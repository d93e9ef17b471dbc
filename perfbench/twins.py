"""DuckDB twins: the expected results of every workload, computed
independently of Spark over the same generated files.

Means are compared unrounded against the engine's 2-decimal rounding,
so a difference of up to half a unit in the last place plus float
summation noise is accepted (``MEAN_TOL``); counts and keys are exact.
"""

from __future__ import annotations

import duckdb

MEAN_TOL = 0.005 + 1e-6
QUALITY_TOL = 0.00005 + 1e-9

_RAW_COLUMNS = {
    "location": "VARCHAR", "region": "VARCHAR", "country": "VARCHAR",
    "localtime": "VARCHAR", "temp_c": "DOUBLE", "humidity": "INTEGER",
    "condition": "VARCHAR", "timestamp": "TIMESTAMP", "co": "DOUBLE",
    "no2": "DOUBLE", "o3": "DOUBLE", "so2": "DOUBLE", "pm2_5": "DOUBLE",
    "pm10": "DOUBLE", "processed_timestamp": "TIMESTAMP",
    "kafka_offset": "BIGINT", "kafka_partition": "INTEGER",
}

_AQI = (
    "CASE WHEN pm2_5 <= 12 THEN 'Good' WHEN pm2_5 <= 35 THEN 'Moderate' "
    "WHEN pm2_5 <= 55 THEN 'Unhealthy for Sensitive Groups' "
    "WHEN pm2_5 <= 150 THEN 'Unhealthy' WHEN pm2_5 <= 250 THEN 'Very Unhealthy' "
    "ELSE 'Hazardous' END"
)
_SCORE = "pm2_5*0.3 + pm10*0.25 + no2*0.2 + o3*0.15 + co*0.05 + so2*0.05"
#: Spark's round() on a double rounds the shortest decimal that reads
#: back as that double (HALF_UP), not its binary value, so a score such
#: as 104.805 rounds up; casting through VARCHAR gives DuckDB the same
#: decimal.  Scores are never negative, where HALF_UP and DuckDB's
#: half-away-from-zero differ.
_ROUNDED_SCORE = f"round(CAST(CAST({_SCORE} AS VARCHAR) AS DECIMAL(38, 24)), 2)::DOUBLE"


def close(a, b, tol: float = MEAN_TOL) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= tol


def rows_close(got: list[tuple], want: list[tuple], exact_cols: int, tol=MEAN_TOL) -> bool:
    """Same length, same order; the first ``exact_cols`` columns equal,
    the rest within ``tol``."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if tuple(g[:exact_cols]) != tuple(w[:exact_cols]):
            return False
        if not all(close(x, y, tol) for x, y in zip(g[exact_cols:], w[exact_cols:])):
            return False
    return True


class AirQualityTwin:
    """The cleaned, transformed air-quality table and every result the
    batch job and the dashboard widgets derive from it."""

    def __init__(self, json_dir: str):
        self.con = duckdb.connect()
        cols = ", ".join(f"'{k}': '{v}'" for k, v in _RAW_COLUMNS.items())
        self.con.execute(
            f"""CREATE TABLE clean AS
            SELECT *, {_AQI} AS air_quality_index,
                   {_ROUNDED_SCORE} AS pollution_score
            FROM (SELECT DISTINCT * FROM read_json('{json_dir}/*.json',
                      format='newline_delimited', columns={{{cols}}}))
            WHERE location IS NOT NULL AND temp_c IS NOT NULL
              AND timestamp IS NOT NULL"""
        )
        self.count = self.q("SELECT count(*) FROM clean")[0][0]
        self.locations = [r[0] for r in self.q("SELECT DISTINCT location FROM clean ORDER BY 1")]
        self._memo: dict = {}

    def q(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    # --- batch job (plans.air_quality) -------------------------------
    def location_stats(self):
        return self.q(
            "SELECT location, count(*), avg(temp_c), min(temp_c), max(temp_c) "
            "FROM clean GROUP BY 1 ORDER BY 1"
        )

    def aqi_distribution(self):
        return self.q(
            "SELECT air_quality_index, count(*) AS c FROM clean "
            "GROUP BY 1 ORDER BY c DESC, 1"
        )

    def means(self, cols):
        return self.q("SELECT " + ", ".join(f"avg({c})" for c in cols) + " FROM clean")

    def hourly(self):
        return self.q(
            "SELECT hour(timestamp) AS h, count(*), avg(temp_c), avg(pm2_5) "
            "FROM clean GROUP BY 1 ORDER BY 1"
        )

    def summary(self):
        return self.q(
            "SELECT location, air_quality_index, count(*), avg(temp_c), "
            "avg(humidity), avg(pm2_5), avg(pollution_score) FROM clean "
            "GROUP BY 1, 2 ORDER BY 1, 2"
        )

    def check_batch(self, res: dict) -> list[str]:
        """Mismatches between one batch job's collected frames and the
        twin; empty when every frame agrees."""
        bad = []
        key = self._memo.setdefault(
            "batch",
            {
                "location_stats": self.location_stats(),
                "aqi": self.aqi_distribution(),
                "means": self.means(["pm2_5", "pm10", "no2", "o3", "pollution_score"]),
                "hourly": self.hourly(),
            },
        )
        ls = sorted(
            (r["location"], r["record_count"], r["avg_temp_c"], r["min_temp_c"], r["max_temp_c"])
            for r in res["location_stats"]
        )
        if not rows_close(ls, key["location_stats"], 2):
            bad.append("location_stats")
        if [tuple(r) for r in res["aqi_distribution"]] != key["aqi"]:
            bad.append("aqi_distribution")
        if not rows_close([tuple(r) for r in res["pollutant_means"]], key["means"], 0):
            bad.append("pollutant_means")
        hourly = [(r["hour"], r["record_count"], r["avg_temp_c"], r["avg_pm2_5"]) for r in res["hourly"]]
        if not rows_close(hourly, key["hourly"], 2):
            bad.append("hourly")
        if len(res["sample"]) != 20 or len(res["sample"][0]) != 6:
            bad.append("sample")
        return bad

    def check_outputs(self, out_dir: str, summary_rows: list[dict]) -> list[str]:
        """The partitioned fact table and the single-file CSV summary."""
        bad = []
        n = self.q(
            f"SELECT count(*) FROM read_parquet('{out_dir}/processed/**/*.parquet')"
        )[0][0]
        if n != self.count:
            bad.append(f"processed rows {n} != {self.count}")
        got = sorted(
            (
                r["location"], r["air_quality_index"], int(r["record_count"]),
                float(r["avg_temp_c"]), float(r["avg_humidity"]),
                float(r["avg_pm2_5"]), float(r["avg_pollution_score"]),
            )
            for r in summary_rows
        )
        if not rows_close(got, self.summary(), 3):
            bad.append("summary csv")
        return bad

    # --- dashboard widgets (plans.serving) ---------------------------
    def widget(self, kind: str, params: tuple):
        key = (kind, params)
        if key in self._memo:
            return self._memo[key]
        if kind == "tiles":
            want = self.q(
                "SELECT count(*), count(DISTINCT location), avg(temp_c), "
                "avg(pm2_5), avg(humidity), max(humidity) - min(humidity) FROM clean"
            )
        elif kind == "aqi":
            want = self.aqi_distribution()
        elif kind == "means":
            want = self.means(params)
        elif kind == "current":
            want = self.q(
                "SELECT location, kafka_offset FROM (SELECT location, kafka_offset, "
                "row_number() OVER (PARTITION BY location "
                "ORDER BY timestamp DESC, kafka_offset DESC) AS rn FROM clean) "
                "WHERE rn = 1 ORDER BY 1"
            )
        elif kind == "topk":
            members, col, k = params
            names = ", ".join("'" + m.replace("'", "''") + "'" for m in members)
            want = [
                r[0]
                for r in self.q(
                    f"SELECT kafka_offset FROM clean WHERE location IN ({names}) "
                    f"ORDER BY {col} DESC NULLS LAST, kafka_offset LIMIT {k}"
                )
            ]
        elif kind == "csv":
            location, limit = params
            n = self.q(
                "SELECT count(*) FROM clean WHERE location = '"
                + location.replace("'", "''") + "'"
            )[0][0]
            want = min(n, limit)
        else:
            raise ValueError(kind)
        self._memo[key] = want
        return want


def lsh_pairs_sql(docs_glob: str) -> str:
    """MinHash(16) + LSH(4 bands of 4) candidate pairs over word
    3-shingles, the same md5 hash family as operators.dedup."""
    h1 = "('0x' || substr(md5(shingle), 1, 15))::BIGINT"
    h2 = "('0x' || substr(md5('salt:' || shingle), 1, 7))::BIGINT"
    mins = ", ".join(f"min({h1} + {i} * {h2}) AS h{i}" for i in range(16))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"h{b * 4 + j}" for j in range(4))
        + ")) AS bucket FROM sig"
        for b in range(4)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
            FROM read_parquet('{docs_glob}')
        ),
        sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS shingle
            FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
        ),
        sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
        bands AS ({bands})
        SELECT DISTINCT a.doc_id, b.doc_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"""


def _components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find: vertex -> minimum vertex id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def corpus_twin(docs_glob: str) -> dict:
    """Expected outcome of the fuzzy-dedup pipeline: candidate pair
    count, and per source (kept_docs, total_tokens, avg_quality) after
    the keep-one-per-cluster anti-join and prepare_corpus's exact dedup
    and quality / language / length filters."""
    con = duckdb.connect()
    pairs = con.execute(lsh_pairs_sql(docs_glob)).fetchall()
    comp = _components(pairs)
    losers = [(v,) for v, c in comp.items() if v != c]
    con.execute("CREATE TABLE losers (doc_id BIGINT)")
    if losers:
        con.executemany("INSERT INTO losers VALUES (?)", losers)
    stop = ", ".join(f"'{w}'" for w in _STOPWORDS)
    lang = {
        "en": ("the", "and", "of", "to", "a"),
        "es": ("el", "la", "de", "que", "y"),
        "de": ("der", "die", "und", "das", "ist"),
        "fr": ("le", "la", "et", "les", "des"),
    }
    scores = ", ".join(
        f"len(list_filter(lt, x -> x IN ({', '.join(repr(w) for w in ws)}))) AS s_{k}"
        for k, ws in lang.items()
    )
    rows = con.execute(
        f"""
        WITH kept AS (
            SELECT * FROM read_parquet('{docs_glob}')
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        ),
        surv AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                    ORDER BY doc_id) AS rn
                FROM kept) WHERE rn = 1
        ),
        t AS (
            SELECT source, string_split_regex(trim(text), '\\s+') AS toks,
                   string_split_regex(trim(lower(text)), '\\s+') AS lt
            FROM surv
        ),
        p AS (
            SELECT source, len(toks) AS n,
                   floor((0.4::DOUBLE * least(len(toks)::DOUBLE / 100.0::DOUBLE, 1.0::DOUBLE)
                        + 0.3::DOUBLE * (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE)
                        + 0.3::DOUBLE * (1.0::DOUBLE - len(list_filter(toks, x -> x IN ({stop})))::DOUBLE
                                         / len(toks)::DOUBLE)
                   ) * 10000.0 + 0.5) / 10000.0 AS quality,
                   {scores}
            FROM t
        )
        SELECT source, count(*), CAST(sum(n) AS BIGINT), avg(quality)
        FROM p
        WHERE quality >= 0.5 AND n BETWEEN 20 AND 2000
          AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0
        GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    con.close()
    return {"pairs": len(pairs), "report": rows}
