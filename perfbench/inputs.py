"""Seeded benchmark inputs, written as plain parquet tables.

Everything the engine reads is generated here from the run's seed with
numpy and written with pyarrow, so the engine sees only finished input
tables and the same seed always gives the same bytes.

- pages: crawl pages in the engine's pages schema. Each page carries 0-3
  ``geo:<lat>,<lon>`` mentions in its html; a workload-set fraction of
  mentions falls within +-0.25 degrees of one of five hot urban cells,
  the rest uniformly over the world.
- polygons: admin polygons for the point-in-polygon joins.
- lookup keys: a stratified stream over built tiles, each tile drawn in
  proportion to its feature count.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# lon_dm7, lat_dm7 of five dense cities: San Francisco, New York, London,
# Tokyo, Lagos
HOT_CELLS = np.array(
    [
        (-1224194000, 377749000),
        (-740060000, 407128000),
        (-1278000, 515074000),
        (1396917000, 356895000),
        (33792000, 64541000),
    ],
    dtype=np.int64,
)
HOT_JITTER_DM7 = 2_500_000  # +-0.25 degrees

_WORDS = (
    "the quick brown fox jumps over lazy dog map tile vector planet hilbert "
    "curve zoom render layer feature node way relation crawl page index"
).split()
_LANGS = ["en", "de", "fr", "es", "pt", "ja"]

PAGES_SCHEMA = pa.schema(
    [
        pa.field("page_id", pa.int64(), nullable=False),
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("lang", pa.string(), nullable=False),
    ]
)

POLYGON_SCHEMA = pa.schema(
    [
        pa.field("admin_id", pa.int64()),
        pa.field("name", pa.string()),
        pa.field(
            "rings",
            pa.list_(
                pa.list_(
                    pa.struct(
                        [pa.field("lon_dm7", pa.int32()), pa.field("lat_dm7", pa.int32())]
                    )
                )
            ),
        ),
    ]
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def mention_coords(
    rng: np.random.Generator, n: int, hot_fraction: float
) -> tuple[np.ndarray, np.ndarray]:
    """n (lon_dm7, lat_dm7) points, ``hot_fraction`` of them in hot cells."""
    hot = rng.random(n) < hot_fraction
    cell = rng.integers(0, len(HOT_CELLS), n)
    jit = rng.integers(-HOT_JITTER_DM7, HOT_JITTER_DM7 + 1, (n, 2))
    lon = np.where(
        hot, HOT_CELLS[cell, 0] + jit[:, 0], rng.integers(-1_800_000_000, 1_800_000_000, n)
    )
    lat = np.where(
        hot, HOT_CELLS[cell, 1] + jit[:, 1], rng.integers(-850_000_000, 850_000_000, n)
    )
    return lon, lat


def pages_table(seed: int, n: int, hot_fraction: float, start: int = 0, stream: int = 1) -> pa.Table:
    """Pages ``start`` .. ``start + n - 1``; ``stream`` selects an
    independent draw (crawl batches use their own)."""
    rng = _rng(seed, stream)
    n_mentions = rng.integers(0, 4, n)
    lon, lat = mention_coords(rng, int(n_mentions.sum()), hot_fraction)
    words = rng.integers(0, len(_WORDS), (n, 8))
    langs = rng.integers(0, len(_LANGS), n)
    ts = 1_704_067_200_000_000 + rng.integers(0, 31_536_000, n) * 1_000_000
    ids = np.arange(start, start + n, dtype=np.int64)
    urls, htmls, texts = [], [], []
    k = 0
    for r in range(n):
        title = f"Page {int(ids[r])}"
        body = " ".join(_WORDS[w] for w in words[r])
        mentions = []
        for _ in range(n_mentions[r]):
            mentions.append(f"geo:{lat[k] / 1e7:.7f},{lon[k] / 1e7:.7f}")
            k += 1
        html = (
            f"<html><head><title>{title}</title>"
            f'<meta charset="utf-8"/><script>var x=1;</script></head>'
            f"<body><h1>{title}</h1><p>{body}</p>"
            + "".join(f"<p>located at {m}</p>" for m in mentions)
            + "</body></html>"
        )
        urls.append(f"https://example.org/crawl/{int(ids[r])}")
        htmls.append(html.encode())
        texts.append("\n".join([title, title, body] + [f"located at {m}" for m in mentions]))
    return pa.Table.from_arrays(
        [
            pa.array(ids),
            pa.array(urls),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
            pa.array(htmls, pa.binary()),
            pa.array(texts),
            pa.array([_LANGS[i] for i in langs]),
        ],
        schema=PAGES_SCHEMA,
    )


def write_table(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _ring(cx: int, cy: int, r_outer: float, r_inner: float, n: int, aspect: float) -> np.ndarray:
    """Closed jagged star ring (n vertices + closing vertex), dm7 ints:
    alternate vertices sit on two radii, so the boundary zig-zags
    through dense point clouds the way a coastline does."""
    ang = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    rad = np.where(np.arange(n) % 2 == 0, r_outer, r_inner)
    xy = np.stack(
        [cx + (rad * np.cos(ang)).astype(np.int64), cy + (rad * aspect * np.sin(ang)).astype(np.int64)],
        axis=1,
    )
    xy = np.clip(xy, [-1_800_000_000, -850_000_000], [1_799_999_999, 849_999_999])
    return np.concatenate([xy, xy[:1]])


def star_polygon(seed: int, vertices: int) -> np.ndarray:
    """The broadcast-join polygon: one jagged ring centred near a
    seed-chosen hot cell, sized so its boundary cuts through the cell's
    point cloud."""
    rng = _rng(seed, 2)
    cx, cy = HOT_CELLS[rng.integers(len(HOT_CELLS))] + rng.integers(-500_000, 500_001, 2)
    return _ring(int(cx), int(cy), 2_000_000.0, 1_200_000.0, vertices, 1.0)


def grid_polygons(seed: int, count: int, vertices: int) -> list[np.ndarray]:
    """Partitioned-join polygons: ``count`` jagged rings on a world grid
    (cold areas), the first five of them moved onto the hot cells."""
    rng = _rng(seed, 3)
    cols = 20
    rows = -(-count // cols)
    rings = []
    for i in range(count):
        if i < len(HOT_CELLS):
            cx, cy = HOT_CELLS[i]
            r = 1_500_000.0
        else:
            cx = -1_700_000_000 + (i % cols) * (3_400_000_000 // cols)
            cy = -800_000_000 + (i // cols) * (1_600_000_000 // rows)
            r = 40_000_000.0
        cx += int(rng.integers(-1_000_000, 1_000_001))
        cy += int(rng.integers(-1_000_000, 1_000_001))
        rings.append(_ring(int(cx), int(cy), r, 0.6 * r, vertices, 0.5))
    return rings


def polygons_table(rings: list[np.ndarray]) -> pa.Table:
    """One single-ring polygon per entry of ``rings``, ids from 0."""
    flat = np.concatenate(rings)
    points = pa.StructArray.from_arrays(
        [pa.array(flat[:, 0].astype(np.int32)), pa.array(flat[:, 1].astype(np.int32))],
        names=["lon_dm7", "lat_dm7"],
    )
    ends = np.cumsum([len(r) for r in rings])
    one_ring = pa.ListArray.from_arrays(pa.array(np.concatenate([[0], ends]).astype(np.int32)), points)
    polygons = pa.ListArray.from_arrays(pa.array(np.arange(len(rings) + 1, dtype=np.int32)), one_ring)
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(len(rings), dtype=np.int64)),
            pa.array([f"admin_{i}" for i in range(len(rings))]),
            polygons.cast(POLYGON_SCHEMA.field("rings").type),
        ],
        schema=POLYGON_SCHEMA,
    )


def lookup_stream(seed: int, keys: list, weights: list, blocks: int, block: int, stream: int = 0) -> list:
    """``blocks * block`` requests over ``keys``, each key drawn with
    probability proportional to its weight (the benchmark passes tile
    feature counts: a tile with more features on it is asked for more).
    Each block is a stratified sample of that distribution in seeded
    order, so every block has the same mix of popular and rare tiles and
    the key mix adds no noise of its own. ``stream`` selects an
    independent draw."""
    rng = _rng(seed, 4, stream)
    w = np.asarray(weights, dtype=np.float64)
    cdf = np.cumsum(w) / w.sum()
    out = []
    for _ in range(blocks):
        picks = np.searchsorted(cdf, (np.arange(block) + rng.random()) / block, side="right")
        rng.shuffle(picks)
        out += [keys[min(i, len(keys) - 1)] for i in picks]
    return out
