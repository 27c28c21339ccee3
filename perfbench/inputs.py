"""Seeded input generation for the benchmark workloads.

Every input the program receives is built here from one integer seed
with ``numpy.random.default_rng``: the same seed gives identical
inputs. Each generator returns plain NumPy/pandas data; the workloads
write them to parquet inside the run's work directory and hand the
program only DataFrames read from those files.

The properties a workload's behaviour depends on (hub share, query mix,
radius, duplicate share, ...) are drawn from the seed as well, inside
stated ranges; each workload records them in its result.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# (lat, lng) of 12 dense hubs. Fixed, so that hub density is a property
# of the workload, not of the seed.
HUBS = np.array(
    [
        (40.75, -73.99), (51.50, -0.12), (35.68, 139.76), (19.43, -99.13),
        (-23.55, -46.63), (28.61, 77.21), (31.23, 121.47), (6.52, 3.38),
        (55.76, 37.62), (-33.87, 151.21), (48.86, 2.35), (37.77, -122.42),
    ]
)

SIZE_LADDER = (0.1, 0.2, 0.4, 0.8)

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "window sort line order join small big customer query stream group "
    "column data filter city river tile cell map road park bridge tower "
    "north south east west market station harbor valley ridge forest lake "
    "island coast plain desert canyon meadow summit delta bay cape field"
).split()


def skewed_points(rng: np.random.Generator, n: int, hub_share: float,
                  hub_sigma_deg: float = 0.35) -> pd.DataFrame:
    """`n` points: a `hub_share` of them normal around the 12 hubs, the
    rest uniform on the sphere between 70S and 70N."""
    n_hub = int(round(n * hub_share))
    hub = rng.integers(0, len(HUBS), n_hub)
    lat_h = HUBS[hub, 0] + rng.normal(0.0, hub_sigma_deg, n_hub)
    lng_h = HUBS[hub, 1] + rng.normal(0.0, hub_sigma_deg, n_hub)
    n_uni = n - n_hub
    s = np.sin(np.radians(70.0))
    lat_u = np.degrees(np.arcsin(rng.uniform(-s, s, n_uni)))
    lng_u = rng.uniform(-180.0, 180.0, n_uni)
    order = rng.permutation(n)
    return pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "lat": np.concatenate([lat_h, lat_u])[order],
            "lng": np.concatenate([lng_h, lng_u])[order],
            "value": rng.integers(0, 1000, n).astype(np.int64),
        }
    )


def _rect(lat0, lng0, dlat, dlng) -> np.ndarray:
    return np.array(
        [(lat0, lng0), (lat0, lng0 + dlng), (lat0 + dlat, lng0 + dlng),
         (lat0 + dlat, lng0), (lat0, lng0)]
    )


def _star(lat0, lng0, r_out, r_in, arms, phase) -> np.ndarray:
    """Concave star ring, closed."""
    k = np.arange(2 * arms)
    ang = phase + np.pi * k / arms
    r = np.where(k % 2 == 0, r_out, r_in)
    ring = np.stack([lat0 + r * np.sin(ang), lng0 + r * np.cos(ang)], axis=1)
    return np.vstack([ring, ring[:1]])


def polygons(rng: np.random.Generator, n: int) -> list[tuple[str, list[np.ndarray]]]:
    """`n` polygons of varied size: a third rectangles, a third concave
    stars, a third rectangles with a rectangular hole. Half sit on hubs,
    half anywhere between 60S and 60N. Ring vertices are (lat, lng)."""
    out = []
    for i in range(n):
        if i % 2 == 0:
            clat, clng = HUBS[rng.integers(0, len(HUBS))] + rng.normal(0, 0.3, 2)
        else:
            clat, clng = rng.uniform(-60, 60), rng.uniform(-170, 170)
        # sizes from a fixed ladder (0.1 to 0.8 degrees), jittered by the seed
        size = SIZE_LADDER[i % len(SIZE_LADDER)] * float(rng.uniform(0.9, 1.1))
        kind = i % 3
        if kind == 0:
            rings = [_rect(clat - size / 2, clng - size, size, 2 * size)]
        elif kind == 1:
            rings = [_star(clat, clng, size, size * 0.4,
                           int(rng.integers(4, 8)), rng.uniform(0, np.pi))]
        else:
            shell = _rect(clat - size / 2, clng - size / 2, size, size)
            hole = _rect(clat - size / 5, clng - size / 5, 2 * size / 5, 2 * size / 5)
            rings = [shell, hole[::-1]]
        out.append((f"poly-{i:03d}", rings))
    return out


def query_points(rng: np.random.Generator, n: int, hub_share: float,
                 start_id: int = 0) -> pd.DataFrame:
    """kNN / radius queries: a `hub_share` near hubs, the rest in sparse
    places (uniform), so that both dense and sparse certificates occur."""
    pts = skewed_points(rng, n, hub_share, hub_sigma_deg=0.5)
    return pd.DataFrame(
        {
            "query_id": np.arange(start_id, start_id + n, dtype=np.int64),
            "lat": pts["lat"].to_numpy(),
            "lng": pts["lng"].to_numpy(),
        }
    )


def documents(rng: np.random.Generator, n: int, dup_share: float) -> pd.DataFrame:
    """`n` documents with Zipf-like word choice; a `dup_share` of them
    are near-duplicates of an earlier document (a few words replaced)."""
    weights = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    weights /= weights.sum()
    n_dup = int(round(n * dup_share))
    n_base = n - n_dup
    texts: list[str] = []
    for _ in range(n_base):
        length = int(rng.integers(30, 90))
        words = rng.choice(len(VOCAB), length, p=weights)
        texts.append(" ".join(VOCAB[w] for w in words))
    src = rng.integers(0, n_base, n_dup)
    for s in src:
        words = texts[s].split(" ")
        k = max(1, len(words) // 25)
        for pos in rng.integers(0, len(words), k):
            words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(" ".join(words))
    order = rng.permutation(n)
    texts_arr = np.array(texts, dtype=object)[order]
    langs = np.array(["en", "de", "fr"])[rng.integers(0, 3, n)]
    sources = np.array([f"src{i}" for i in range(5)])[rng.integers(0, 5, n)]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts_arr,
            "lang": langs,
            "source": sources,
            "n_chars": np.array([len(t) for t in texts_arr], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int, n_clusters: int) -> pd.DataFrame:
    """Unit-ish vectors around `n_clusters` seeded centres."""
    centres = rng.normal(0, 1, (n_clusters, dim))
    label = rng.integers(0, n_clusters, n)
    vec = centres[label] + rng.normal(0, 0.6, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vec.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )
