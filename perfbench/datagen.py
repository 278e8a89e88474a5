"""Seeded input generator for the benchmark.

Every input is a pure function of the seed and the sizes, and is cached
on disk under ``<work>/inputs/<kind>-s<seed>-<sizes>``; a ``DONE`` marker makes a
half-written directory count as absent. Nothing here imports the package:
the program only ever sees the files written below.

Event batches follow the raw 10-column extract contract (FIXTURES F1/F2):
dirty-data rates, 2% duplicate keys that differ only in the dropped ``tz``
column, and ~30% of ``place`` strings carrying a country token. The
polygon dimension (F3) is a set of non-overlapping 64-vertex star-shaped
polygons, one per grid cell, plus one name-only row. Each event's
containing polygon is known by construction and written to a ground-truth
sidecar that only the checker reads.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import numpy as np
import pandas as pd

RAW_COLUMNS = [
    "place", "time", "magnitude", "latitude", "longitude",
    "depth", "alert", "tsunami", "tz", "type",
]
REGIONS = ["Africa", "Americas", "Asia", "Europe", "Oceania"]
NAME_ONLY = ("Alaska", "Americas")
VERTICES = 64
GRID_LON, GRID_LAT = 20, 15
CELL_W, CELL_H = 360.0 / GRID_LON, 180.0 / GRID_LAT
RADIUS = 0.45 * min(CELL_W, CELL_H)  # vertices lie in [0.75, 0.95] * RADIUS
INNER = 0.65 * RADIUS  # strictly inside every polygon
OUTER = 1.05 * RADIUS  # strictly outside the cell's polygon

MS_1500 = -14831769600000  # 1500-01-01T00:00:00Z
MS_2025 = 1735689600000  # 2025-01-01T00:00:00Z: base tables end here
MS_FEB = 1738368000000  # 2025-02-01T00:00:00Z: end of the month batch
MS_MAX = 1753920000000  # 2025-07-31T00:00:00Z: the cleaning upper bound
DIRECTIONS = [
    "N", "NNE", "NE", "ENE", "E", "ESE", "SE", "SSE",
    "S", "SSW", "SW", "WSW", "W", "WNW", "NW", "NNW",
]
SEAS = [
    "Mid-Atlantic Ridge", "South Pacific Ocean", "Banda Sea region",
    "Southern East Pacific Rise", "Kermadec Trench", "Drake Passage",
]
TYPES = ["earthquake", "quarry blast", "explosion", "nuclear explosion", "ice quake"]
TYPE_P = [0.947, 0.02, 0.02, 0.005, 0.005]  # + 0.3% null
ALERTS = ["green", "yellow", "orange", "red"]
ALERT_P = [0.04, 0.015, 0.004, 0.001]  # + 94% null


def _names(rng: np.random.Generator, n: int, suffixes: list[str]) -> list[str]:
    """Distinct pronounceable ASCII words."""
    onset = ["b", "d", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "br", "gr", "st", "tr"]
    vowel = ["a", "e", "i", "o", "u", "ia", "ea"]
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 4))
        word = "".join(str(rng.choice(onset)) + str(rng.choice(vowel)) for _ in range(k))
        word = (word + str(rng.choice(suffixes))).capitalize()
        if word not in seen:
            seen.add(word)
            out.append(word)
    return out


def polygon_dim(seed: int, n_polygons: int) -> dict:
    """(country, region, wkt) rows, polygon centres and the token list."""
    rng = np.random.default_rng([seed, 1])
    words = _names(rng, n_polygons, ["a", "ia", "land", "stan", "or"])
    countries = []
    for i, w in enumerate(words):
        # some multi-word names exercise the \b token regex on phrases
        countries.append(f"New {w}" if i % 9 == 4 else w)
    cells = rng.permutation(GRID_LON * GRID_LAT)[:n_polygons]
    theta = np.arange(VERTICES) * (2 * math.pi / VERTICES)
    rows, centres = [], []
    for name, cell in zip(countries, cells):
        cx = -180.0 + (cell % GRID_LON + 0.5) * CELL_W
        cy = -90.0 + (cell // GRID_LON + 0.5) * CELL_H
        k = int(rng.integers(2, 6))
        phase = float(rng.uniform(0, 2 * math.pi))
        r = RADIUS * (0.85 + 0.1 * np.sin(k * theta + phase))
        xs, ys = cx + r * np.cos(theta), cy + r * np.sin(theta)
        ring = ", ".join(f"{x!r} {y!r}" for x, y in zip(xs, ys))
        ring += f", {xs[0]!r} {ys[0]!r}"
        rows.append((name, REGIONS[int(rng.integers(len(REGIONS)))], f"POLYGON (({ring}))"))
        centres.append((cx, cy))
    rows.append((NAME_ONLY[0], NAME_ONLY[1], None))
    return {"rows": rows, "centres": centres, "tokens": [r[0] for r in rows]}


def _points(rng, n, dim):
    """(lon, lat, truth index or -1): ~60% inside a polygon, rest outside."""
    centres = np.asarray(dim["centres"])
    npoly = len(centres)
    inside = rng.random(n) < 0.6
    truth = np.where(inside, rng.integers(0, npoly, n), -1)
    ang = rng.uniform(0, 2 * math.pi, n)
    rad = np.sqrt(rng.random(n)) * INNER
    lon = np.zeros(n)
    lat = np.zeros(n)
    idx = np.nonzero(inside)[0]
    lon[idx] = centres[truth[idx], 0] + rad[idx] * np.cos(ang[idx])
    lat[idx] = centres[truth[idx], 1] + rad[idx] * np.sin(ang[idx])
    # outside points: anywhere on the globe, rejected while within OUTER of
    # the centre of the cell they fall in (polygons never leave their cell)
    out = np.nonzero(~inside)[0]
    while out.size:
        lon[out] = rng.uniform(-180.0, 180.0, out.size)
        lat[out] = rng.uniform(-90.0, 90.0, out.size)
        cx = -180.0 + (np.minimum((lon[out] + 180.0) // CELL_W, GRID_LON - 1) + 0.5) * CELL_W
        cy = -90.0 + (np.minimum((lat[out] + 90.0) // CELL_H, GRID_LAT - 1) + 0.5) * CELL_H
        near = np.hypot(lon[out] - cx, lat[out] - cy) < OUTER
        out = out[near]
    return lon, lat, truth


def event_batch(
    rng: np.random.Generator, n: int, dim: dict, t_lo: int, t_hi: int
) -> pd.DataFrame:
    """``n`` raw events (before duplicate injection) plus a ``truth`` column."""
    lon, lat, truth = _points(rng, n, dim)
    tokens = dim["tokens"]
    cities = _names(rng, 64, ["ton", "ville", "burg", "port"])
    has_tok = np.where(truth >= 0, rng.random(n) < 0.1, rng.random(n) < 0.6)
    tok = np.where(truth >= 0, truth, rng.integers(0, len(tokens), n))
    km = rng.integers(1, 300, n)
    dirs = rng.integers(0, len(DIRECTIONS), n)
    city = rng.integers(0, len(cities), n)
    sea = rng.integers(0, len(SEAS), n)
    place = [
        f"{km[i]} km {DIRECTIONS[dirs[i]]} of {cities[city[i]]}, "
        + (tokens[tok[i]] if has_tok[i] else SEAS[sea[i]])
        for i in range(n)
    ]
    place = pd.Series(place, dtype=object)
    place[rng.random(n) < 0.01] = None

    time = rng.integers(t_lo, t_hi, n)
    late = rng.random(n) < 0.005  # outside the cleaning window
    time[late] = np.where(
        rng.random(late.sum()) < 0.5,
        MS_1500 - rng.integers(1, 10**12, late.sum()),
        MS_MAX + rng.integers(1000, 10**11, late.sum()),
    )

    mag = np.clip(rng.normal(4.0, 1.5, n), -1.0, 10.0)
    for b in (4.0, 5.0, 6.0, 7.0, 8.0):
        mag[rng.random(n) < 0.002] = b
    bad = rng.random(n) < 0.01
    mag[bad] = np.where(rng.random(bad.sum()) < 0.5, rng.uniform(10.5, 12, bad.sum()),
                        rng.uniform(-3, -1.5, bad.sum()))
    mag = pd.Series(mag)
    mag[rng.random(n) < 0.03] = None

    bad = rng.random(n) < 0.005
    lat[bad] = np.sign(rng.random(bad.sum()) - 0.5) * rng.uniform(95, 120, bad.sum())
    truth[bad] = -1
    bad = rng.random(n) < 0.005
    lon[bad] = np.sign(rng.random(bad.sum()) - 0.5) * rng.uniform(185, 250, bad.sum())
    truth[bad] = -1

    depth = pd.Series(np.clip(rng.exponential(40.0, n), 0.0, 1000.0))
    depth[rng.random(n) < 0.03] = 0.0
    depth[rng.random(n) < 0.05] = None

    u = rng.random(n)
    alert = pd.Series([None] * n, dtype=object)
    lo = 0.0
    for a, p in zip(ALERTS, ALERT_P):
        alert[(u >= lo) & (u < lo + p)] = a
        lo += p
    typ = pd.Series(rng.choice(TYPES, n, p=np.asarray(TYPE_P) / sum(TYPE_P)), dtype=object)
    typ[rng.random(n) < 0.003] = None
    tz = pd.Series(pd.array(rng.integers(-720, 721, n), dtype="Int32"))
    tz[rng.random(n) >= 0.001] = pd.NA

    return pd.DataFrame({
        "place": place,
        "time": time.astype(np.int64),
        "magnitude": mag.astype(float),
        "latitude": lat,
        "longitude": lon,
        "depth": depth.astype(float),
        "alert": alert,
        "tsunami": pd.array((rng.random(n) < 0.03).astype(np.int32), dtype="Int32"),
        "tz": tz,
        "type": typ,
        "truth": truth.astype(np.int32),
    })


def with_duplicates(rng, df: pd.DataFrame, rate: float = 0.02) -> pd.DataFrame:
    """Re-emit ``rate`` of the rows with only ``tz`` changed, then shuffle."""
    dup = df.sample(frac=rate, random_state=int(rng.integers(2**31))).copy()
    dup["tz"] = dup["tz"].map(lambda v: 60 if pd.isna(v) else pd.NA).astype("Int32")
    out = pd.concat([df, dup], ignore_index=True)
    return out.sample(frac=1.0, random_state=int(rng.integers(2**31))).reset_index(drop=True)


def _write_events(df: pd.DataFrame, d: str, name: str) -> None:
    df[RAW_COLUMNS].to_csv(os.path.join(d, f"{name}.csv"), index=False)
    df[["truth"]].to_parquet(os.path.join(d, f"{name}.truth.parquet"), index=False)


def _cached(work: str, name: str, build) -> str:
    d = os.path.join(work, "inputs", name)
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    build(d)
    open(os.path.join(d, "DONE"), "w").close()
    return d


def earthquake_inputs(
    work: str, seed: int, n_events: int, n_polygons: int, n_month: int = 0,
) -> str:
    """Historical CSV and dim, plus, when ``n_month`` is set, a month batch
    and revisions.

    The month holds ``n_month`` rows of 2025-01: ~10% re-reported
    historical events (same key), ~3% late rows older than the historical
    high-water mark, the rest new. Revisions pick ~1% of the historical
    rows' keys and give them a new magnitude.
    """
    def build(d: str) -> None:
        rng = np.random.default_rng([seed, 2])
        dim = polygon_dim(seed, n_polygons)
        with open(os.path.join(d, "dim.json"), "w") as f:
            json.dump({"rows": dim["rows"], "tokens": dim["tokens"]}, f)
        hist = with_duplicates(rng, event_batch(rng, n_events, dim, MS_1500, MS_2025))
        _write_events(hist, d, "historical")
        if not n_month:
            return
        new = event_batch(rng, n_month, dim, MS_2025, MS_FEB)
        k_old = int(0.10 * n_month)
        k_late = int(0.03 * n_month)
        old = hist.sample(k_old, random_state=int(rng.integers(2**31)))
        late = event_batch(rng, k_late, dim, MS_2025 - 10**10, MS_2025 - 1)
        batch = pd.concat([new.iloc[: n_month - k_old - k_late], old, late],
                          ignore_index=True)
        _write_events(with_duplicates(rng, batch), d, "month")
        keys = hist[hist["place"].notna()][["place", "time"]].drop_duplicates()
        rev = keys.sample(frac=0.01, random_state=int(rng.integers(2**31)))
        rev = rev.assign(new_magnitude=np.round(rng.uniform(0.0, 9.5, len(rev)), 3))
        rev.to_parquet(os.path.join(d, "revisions.parquet"), index=False)

    return _cached(work, f"quake-s{seed}-e{n_events}-p{n_polygons}-m{n_month}", build)


VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def curation_inputs(work: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """``documents.parquet`` and ``embeddings.parquet`` with the catalog's
    table schemas: random text over a 31-word vocabulary with ~0.5% exact
    and ~2% near duplicates; 64-d unit vectors around 10 label centroids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(d: str) -> None:
        rng = np.random.default_rng([seed, 3])
        lens = rng.integers(8, 96, n_docs)
        texts = [" ".join(rng.choice(VOCAB, k)) for k in lens]
        for i in rng.choice(n_docs, n_docs // 200, replace=False):
            texts[i] = texts[int(rng.integers(n_docs))]
        for i in rng.choice(n_docs, n_docs // 50, replace=False):
            words = texts[int(rng.integers(n_docs))].split()
            words[int(rng.integers(len(words)))] = str(rng.choice(VOCAB))
            texts[i] = " ".join(words)
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }), os.path.join(d, "documents.parquet"))

        cent = rng.normal(size=(10, 64))
        cent /= np.linalg.norm(cent, axis=1, keepdims=True)
        label = rng.integers(0, 10, n_vecs)
        vec = cent[label] + rng.normal(scale=0.12, size=(n_vecs, 64))
        vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32), pa.int32()),
        }), os.path.join(d, "embeddings.parquet"))

    return _cached(work, f"docs-s{seed}-d{n_docs}-v{n_vecs}", build)
