"""Seeded input generators.  Every generator takes the seed and writes
plain files; the engine only ever sees those files.

- ``air_quality``: JSON-lines records with the FIXTURES.md §1
  properties (nulls in every critical field, exact duplicate rows,
  values exactly on the AQI and temperature band boundaries, zeros).
- ``documents``: a text corpus (doc_id, text, lang, source, n_chars)
  with a stated share of exact copies and of near-duplicates.
- ``stream_files``: JSON-envelope files for the open-loop stream, with
  truncated (corrupt) payloads and replayed event ids.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

LOCATIONS = (
    "London", "Paris", "Delhi", "Lima", "Oslo", "Cairo",
    "New York", "Sao Paulo", "Tokyo", "Lagos", "Sydney", "Mumbai",
)
PM_BOUNDS = (12.0, 35.0, 55.0, 150.0, 250.0)
TEMP_BOUNDS = (0.0, 10.0, 20.0, 30.0)
#: 2024-01-01T00:00:00Z; records span three calendar months
EPOCH_2024 = 1704067200
SPAN_S = 90 * 86400

#: shares of the air-quality generator
NULL_SHARE = 0.01  # per critical field: location, temp_c, timestamp
DUP_SHARE = 0.02  # rows appended again verbatim
BOUNDARY_SHARE = 0.05  # pm2_5 / temp_c exactly on a band boundary
ZERO_SHARE = 0.03  # pollutants at the imputation default 0


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream))])


def air_quality_frame(seed: int, n: int) -> pd.DataFrame:
    """``n`` raw records followed by DUP_SHARE exact duplicates."""
    r = _rng(seed, "air_quality")
    loc = np.array(LOCATIONS, dtype=object)[r.integers(0, len(LOCATIONS), n)]
    secs = EPOCH_2024 + r.integers(0, SPAN_S, n)
    when = pd.to_datetime(secs, unit="s")
    ts = when.strftime("%Y-%m-%dT%H:%M:%S").to_numpy(object)
    temp = np.round(r.uniform(-20.0, 45.0, n), 1)
    on_t = r.random(n) < BOUNDARY_SHARE
    temp[on_t] = np.array(TEMP_BOUNDS)[r.integers(0, len(TEMP_BOUNDS), on_t.sum())]
    pm25 = np.round(r.uniform(0.0, 400.0, n), 1)
    on_p = r.random(n) < BOUNDARY_SHARE
    pm25[on_p] = np.array(PM_BOUNDS)[r.integers(0, len(PM_BOUNDS), on_p.sum())]
    pm10 = np.round(pm25 * r.uniform(1.0, 2.0, n), 1)
    pm25[r.random(n) < ZERO_SHARE] = 0.0
    co = np.round(r.uniform(0.0, 2000.0, n), 2)
    co[r.random(n) < ZERO_SHARE] = 0.0
    df = pd.DataFrame(
        {
            "location": loc,
            "region": "region",
            "country": "country",
            "localtime": when.strftime("%Y-%m-%d %H:%M"),
            "temp_c": temp,
            "humidity": r.integers(0, 101, n),
            "condition": np.array(("Clear", "Cloudy", "Rain", "Haze"), dtype=object)[
                r.integers(0, 4, n)
            ],
            "timestamp": ts,
            "co": co,
            "no2": np.round(r.uniform(0.0, 150.0, n), 2),
            "o3": np.round(r.uniform(0.0, 200.0, n), 2),
            "so2": np.round(r.uniform(0.0, 80.0, n), 2),
            "pm2_5": pm25,
            "pm10": pm10,
            "processed_timestamp": ts,
            "kafka_offset": np.arange(n, dtype=np.int64),
            "kafka_partition": r.integers(0, 4, n),
        }
    )
    for col in ("location", "temp_c", "timestamp"):
        df[col] = df[col].astype(object)
        df.loc[r.random(n) < NULL_SHARE, col] = None
    dups = df[r.random(n) < DUP_SHARE]
    return pd.concat([df, dups], ignore_index=True)


def write_air_quality(seed: int, n: int, out_dir: str, n_files: int = 8) -> int:
    """JSON-lines directory of ``n`` records plus exact duplicates, split
    into ``n_files`` files.  Returns the number of lines written."""
    os.makedirs(out_dir, exist_ok=True)
    df = air_quality_frame(seed, n)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        df.iloc[part].to_json(
            os.path.join(out_dir, f"part-{i:05d}.json"),
            orient="records",
            lines=True,
            double_precision=15,
        )
    return len(df)


# ------------------------------------------------------------- documents

STOP = ("the", "a", "and", "of", "to", "in", "is", "it")
ES_MARKERS = ("el", "la", "de", "que", "y")
SOURCES = ("web", "books", "wiki", "news")
EXACT_COPY_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
ES_SHARE = 0.05
#: share of tokens replaced in a near-duplicate: low enough that LSH
#: links almost every near-duplicate to its base, so the clusters (and
#: the connected-components rounds) have the same shape for every seed
NEAR_DUP_EDIT = 0.02


def documents_frame(seed: int, n: int) -> pd.DataFrame:
    """``n`` documents: a base corpus plus EXACT_COPY_SHARE exact copies
    and NEAR_DUP_SHARE near-duplicates (NEAR_DUP_EDIT of the tokens
    replaced) of random base documents.  ES_SHARE of the base documents
    are Spanish-marked, so the language filter drops them."""
    r = _rng(seed, "documents")
    vocab = np.array([f"w{i:04d}{chr(97 + i % 26)}" for i in range(4000)], dtype=object)
    n_copy = int(n * EXACT_COPY_SHARE)
    n_near = int(n * NEAR_DUP_SHARE)
    n_base = n - n_copy - n_near
    texts = []
    for _ in range(n_base):
        length = int(r.integers(30, 160))
        words = vocab[r.integers(0, len(vocab), length)]
        markers = ES_MARKERS if r.random() < ES_SHARE else STOP
        mask = r.random(length) < 0.3
        words[mask] = np.array(markers, dtype=object)[r.integers(0, len(markers), mask.sum())]
        texts.append(" ".join(words))
    for _ in range(n_copy):
        texts.append(texts[int(r.integers(0, n_base))])
    for _ in range(n_near):
        words = texts[int(r.integers(0, n_base))].split(" ")
        for j in np.flatnonzero(r.random(len(words)) < NEAR_DUP_EDIT):
            words[j] = vocab[int(r.integers(0, len(vocab)))]
        texts.append(" ".join(words))
    texts = [texts[i] for i in r.permutation(n)]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": "en",
            "source": np.array(SOURCES, dtype=object)[r.integers(0, len(SOURCES), n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_documents(seed: int, n: int, out_dir: str, n_files: int = 4) -> None:
    os.makedirs(out_dir, exist_ok=True)
    df = documents_frame(seed, n)
    for i, part in enumerate(np.array_split(np.arange(n), n_files)):
        df.iloc[part].to_parquet(
            os.path.join(out_dir, f"part-{i:05d}.parquet"), index=False
        )


# ---------------------------------------------------------------- stream

CORRUPT_SHARE = 0.01
REPLAY_SHARE = 0.02
#: event ids are file_no * ID_STRIDE + position, so a sink row maps
#: back to the file (and the release time) that carried it
ID_STRIDE = 1_000_000


def stream_files(
    seed: int, n_files: int, per_file: int, out_dir: str, first_file: int = 0
) -> dict:
    """Pre-generate ``n_files`` envelope files of ``per_file`` lines,
    numbered from ``first_file``.

    Each line is ``{"key": ..., "payload": "<json>"}``; CORRUPT_SHARE of
    the payloads are truncated mid-document and REPLAY_SHARE repeat an
    earlier valid record verbatim (same event id and event time).
    Returns the exact accounting the run is checked against."""
    r = _rng(seed * 1000 + first_file, "stream")
    os.makedirs(out_dir, exist_ok=True)
    corrupt = replayed = 0
    recent: list[str] = []
    files = []
    for f in range(first_file, first_file + n_files):
        lines = []
        for j in range(per_file):
            u = r.random()
            if u < REPLAY_SHARE and recent:
                payload = recent[int(r.integers(0, len(recent)))]
                replayed += 1
            else:
                payload = json.dumps(
                    {
                        "event_id": f * ID_STRIDE + j,
                        # event time within minutes of each other, so
                        # every replay falls inside the dedup watermark
                        "ts": f"2024-06-01T00:{(f // 60) % 60:02d}:{f % 60:02d}",
                        "location": LOCATIONS[int(r.integers(0, len(LOCATIONS)))],
                        "pm2_5": round(float(r.uniform(0, 400)), 1),
                        "temp_c": round(float(r.uniform(-20, 45)), 1),
                    }
                )
                if u > 1.0 - CORRUPT_SHARE:
                    payload = payload[: int(r.integers(5, len(payload) - 5))]
                    corrupt += 1
                else:
                    recent.append(payload)
                    if len(recent) > 256:
                        recent.pop(0)
            lines.append(json.dumps({"key": str(f), "payload": payload}))
        path = os.path.join(out_dir, f"part-{f:06d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        files.append(path)
    return {
        "files": files,
        "released": n_files * per_file,
        "corrupt": corrupt,
        "replayed": replayed,
    }
