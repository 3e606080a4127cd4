"""Seeded input generator for the benchmark.

Everything the program receives is generated here from the workload seed:
raster values, request extents, weights and edit ranges (overlay_service),
and the fixture-shaped tables plus the pass order (iterative_loops,
corpus_pipeline). The same seed always produces byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# overlay_service traffic. No public source gives the service's request
# shape (layer count, extent size, weights, edit frequency), so every
# figure below is an assumption; README.md says why each was chosen.
#
# Raster stack: 512 x 512 cells (26x the fixtures' 10k-cell domain),
# stored tile by tile so an extent filter can skip row groups. One layer
# per authoring method the benchmark exercises, plus a second
# equal-interval layer.
GRID = 512
TILE = 64
LAYERS = ["elevation", "slope", "landcover", "distance"]
NODATA_LAYER = "landcover"   # value 0 is NoData, masked by some requests
BLOCKS = 1000                # more than any run reaches
# Each block of requests holds this mix, in seeded order: reads, reads
# with NoData masking, and classification edits. One edit per block makes
# every run commit a few catalog versions; real edits are likely rarer.
BLOCK = ["read"] * 4 + ["read_masked", "edit"]
# Square extents: each block reads one of each side length, so the work
# per block is the same whatever the seed; positions are seeded. A side
# of 64 to 160 cells touches 1 to 16 of the 64 stored tiles.
SIDES = [64, 96, 128, 144, 160]
# Weights are in tenths (the engine's w10): 0.0 to 1.0 per layer.
MAX_W10 = 10

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def rng(seed, stream):
    return np.random.default_rng([seed, stream])


def write_table(path, table, row_group_size=None):
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy")


def smooth_field(r, n, waves=6):
    """Spatially correlated field in [0, 1]: a sum of random plane waves."""
    y, x = np.mgrid[0:n, 0:n].astype(np.float64) / n
    f = np.zeros((n, n))
    for _ in range(waves):
        fx, fy = r.uniform(-3.0, 3.0, 2)
        f += r.uniform(0.3, 1.0) * np.cos(2 * np.pi * (fx * x + fy * y)
                                          + r.uniform(0, 2 * np.pi))
    f += 0.05 * r.standard_normal((n, n))
    return (f - f.min()) / (f.max() - f.min())


def raster_stack(seed):
    r = rng(seed, 1)
    elev = np.round(2500.0 * smooth_field(r, GRID), 3)
    gy, gx = np.gradient(elev)
    slope = np.round(np.degrees(np.arctan(np.hypot(gx, gy) / 30.0)), 4)
    cover = 1.0 + np.floor(8.999 * smooth_field(r, GRID, waves=10))
    cover[r.random((GRID, GRID)) < 0.02] = 0.0
    dist = np.round(5000.0 * smooth_field(r, GRID, waves=3) ** 2, 2)
    return np.stack([elev, slope, cover, dist])


def write_raster(seed, out):
    stack = raster_stack(seed)
    stack.astype("<f8").tofile(os.path.join(out, "raster.f64"))
    nt = GRID // TILE
    rr, cc = np.mgrid[0:GRID, 0:GRID]
    # tile-major cell order: tile (tr, tc), then row, then column
    order = (rr // TILE * nt + cc // TILE) * TILE * TILE \
        + (rr % TILE) * TILE + (cc % TILE)
    perm = np.argsort(order.ravel(), kind="stable")
    r_flat, c_flat = rr.ravel()[perm], cc.ravel()[perm]
    nl = len(LAYERS)
    cols = {
        "cell_id": np.repeat(r_flat.astype(np.int64) * GRID + c_flat, nl),
        "r": np.repeat(r_flat.astype(np.int32), nl),
        "c": np.repeat(c_flat.astype(np.int32), nl),
        "layer": np.tile(np.array(LAYERS), GRID * GRID),
        "value": stack.reshape(nl, -1)[:, perm].T.ravel(),
    }
    write_table(os.path.join(out, "raster.parquet"), pa.table(cols),
                row_group_size=TILE * TILE * nl)
    return stack


def fmt(x):
    return repr(float(x))


def write_requests(seed, out, stack):
    """A header line, then one request per line:
      R r0 r1 c0 c1 mask w10...   read an extent (inclusive bounds)
      E layer k (lo hi out)*k     replace one layer's classification
    Edits are valid by construction: contiguous, first lo = layer min,
    last hi = layer max + 1."""
    r = rng(seed, 2)
    mins = stack.reshape(len(LAYERS), -1).min(axis=1)
    maxs = stack.reshape(len(LAYERS), -1).max(axis=1)
    lines = []
    for _ in range(BLOCKS):
        sides = list(r.permutation(SIDES))
        for kind in r.permutation(BLOCK):
            if kind == "edit":
                li = int(r.integers(len(LAYERS)))
                k = int(r.integers(3, 7))
                inner = np.unique(np.round(
                    r.uniform(mins[li], maxs[li], k - 1), 3))
                inner = inner[(inner > mins[li]) & (inner < maxs[li])]
                bounds = [mins[li], *inner, maxs[li] + 1.0]
                outs = r.integers(1, 10, len(bounds) - 1)
                body = " ".join(f"{fmt(lo)} {fmt(hi)} {int(o)}" for lo, hi, o
                                in zip(bounds[:-1], bounds[1:], outs))
                lines.append(f"E {LAYERS[li]} {len(bounds) - 1} {body}")
            else:
                h = w = int(sides.pop())
                r0 = int(r.integers(0, GRID - h + 1))
                c0 = int(r.integers(0, GRID - w + 1))
                ws = " ".join(str(int(x)) for x in
                              r.integers(0, MAX_W10 + 1, len(LAYERS)))
                lines.append(f"R {r0} {r0 + h - 1} {c0} {c0 + w - 1} "
                             f"{int(kind == 'read_masked')} {ws}")
    with open(os.path.join(out, "requests.txt"), "w") as f:
        f.write(f"# layers {' '.join(LAYERS)} grid {GRID} nodata "
                f"{NODATA_LAYER} block {len(BLOCK)}\n")
        f.write("\n".join(lines) + "\n")


def lineitem(seed, sf):
    r = rng(seed, 3)
    n = int(6_000_000 * sf)
    day_ms = 86_400_000
    start = np.datetime64("1995-01-02", "ms").astype(np.int64)
    return pa.table({
        "l_orderkey": r.integers(0, int(1_500_000 * sf), n),
        "l_partkey": r.integers(0, int(200_000 * sf), n),
        "l_suppkey": r.integers(0, int(10_000 * sf), n),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105_000.0, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": r.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": r.choice(np.array(["O", "F"]), n),
        "l_shipdate": pa.array(start + r.integers(0, 2498, n) * day_ms,
                               type=pa.timestamp("ms")),
    })


def documents(seed, sf):
    """Word-soup documents: ~5% near-duplicates (an earlier text plus a
    marker word) and a few exact duplicates, as in the fixtures."""
    r = rng(seed, 4)
    n = int(50_000 * sf)
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(r.integers(i))] + " dup")
        elif i > 10 and u < 0.052:
            texts.append(texts[int(r.integers(i))])
        else:
            texts.append(" ".join(r.choice(vocab, int(r.integers(10, 101)))))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": r.choice(np.array(LANGS), n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed, sf, dim=64, labels=10):
    """Unit vectors around one random centre per label."""
    r = rng(seed, 5)
    n = int(20_000 * sf)
    centres = r.standard_normal((labels, dim))
    label = r.integers(0, labels, n)
    v = 0.6 * centres[label] + r.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


TABLES = {"lineitem": lineitem, "documents": documents,
          "embeddings": embeddings}


def write_tables(seed, out, sf, names):
    for name in names:
        write_table(os.path.join(out, f"{name}.parquet"),
                    TABLES[name](seed, sf))


def write_order(seed, out, queries, passes=200):
    r = rng(seed, 6)
    with open(os.path.join(out, "order.txt"), "w") as f:
        for _ in range(passes):
            f.write(" ".join(r.permutation(queries)) + "\n")


def generate(workload, seed, out, spec):
    os.makedirs(out, exist_ok=True)
    if workload == "overlay_service":
        write_requests(seed, out, write_raster(seed, out))
    else:
        write_tables(seed, out, spec["sf"], spec["tables"])
        write_order(seed, out, spec["queries"])
