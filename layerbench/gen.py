#!/usr/bin/env python3
"""Seeded input generator for the layer benchmark.

Writes, for one seed, everything the workloads and the traced run's probes
read:

  tables/<name>.parquet   documents, embeddings, part and region, with the
                          engine's test-data schemas and one-file-per-table
                          layout, at a fixed reduced scale
  maps/<map>.json         CalTopo map documents in the API envelope
                          {"result": {"state": <FeatureCollection>}}
  expected.json           per map: the feature ids the CalTopo pipeline must
                          deliver, derived here from the generation rules
  manifest.json           parameters, row counts, the sha256 digest of every
                          file above, and the generation time

The same seed gives byte-identical files; `digest()` checks that.
`run.py` calls `ensure(seed, dir)`, which generates once per seed.
"""
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale of one generated data set: 4000 parts, 250 documents, 1000 vectors
# and MAPS maps. The corpus is small because the DuckDB oracles of the dedup
# queries compare every document with its next 200.
SCALE = {"part": 4000, "documents": 250, "embeddings": 1000}
DIM = 64
# Near-duplicate structure of the corpus: this share of documents sits in
# clusters, whose sizes follow a Zipf-like skew capped at CLUSTER_MAX.
DUP_SHARE = 0.15
CLUSTER_ZIPF = 1.6
CLUSTER_MAX = 8
# Words per document, and per cluster base document.
DOC_WORDS = (10, 40)
BASE_WORDS = (24, 40)
# Share of embeddings that are exact copies of an earlier vector.
VEC_DUP_SHARE = 0.10
# CalTopo maps: heavy-tailed feature counts between MAP_MIN and MAP_MAX.
MAPS = 12
MAP_MIN, MAP_MAX = 100, 10000
MAP_PARETO = 0.85
FOLDERS = 6

VOCAB = ("a the data spark query table join scan sort hash agg window "
         "stream batch group key value row column line part order "
         "customer filter merge vector fast slow big small").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_WORDS = (["small", "red", "blue", "hot", "big", "green"],
              ["ring", "widget", "bolt", "gear", "gizmo", "pipe"])
PART_TYPES = ["ECONOMY", "SMALL", "LARGE", "STANDARD", "PROMO"]


def _write(table, path):
    # fixed writer options: the bytes depend only on the data
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30,
                   use_dictionary=True, write_statistics=True)


def _money(x):
    return np.round(x, 2)


def catalog_tables(rng):
    """`part` and `region`, the tables the CalTopo feature builder reads
    for the operator probes of the traced run."""
    n_part = SCALE["part"]
    pk = np.arange(n_part, dtype=np.int64)
    a = rng.integers(0, len(PART_WORDS[0]), n_part)
    b = rng.integers(0, len(PART_WORDS[1]), n_part)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "part": pa.table({
            "p_partkey": pa.array(pk),
            "p_name": pa.array([f"{PART_WORDS[0][i]} {PART_WORDS[1][j]}"
                                for i, j in zip(a, b)]),
            "p_brand": pa.array([f"Brand#{i}"
                                 for i in rng.integers(1, 30, n_part)]),
            "p_type": pa.array([PART_TYPES[i]
                                for i in rng.integers(0, 5, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(_money(900 + (pk % 1000) / 10.0))}),
    }


def _cluster_sizes(rng, n_dup_docs):
    """Cluster sizes 1 + Zipf(CLUSTER_ZIPF), capped at CLUSTER_MAX, taken at
    fixed quantiles and shuffled: every seed has the same size mix, so a
    pass does the same amount of work."""
    k = np.arange(1, CLUSTER_MAX)
    pmf = k ** -CLUSTER_ZIPF
    cdf = np.cumsum(pmf) / (pmf.sum() + (CLUSTER_MAX - 1) ** (1 - CLUSTER_ZIPF)
                            / (CLUSTER_ZIPF - 1))
    n = 1
    while True:
        u = (np.arange(n) + 0.5) / n
        sizes = np.minimum(CLUSTER_MAX, 2 + np.searchsorted(cdf, u))
        if sizes.sum() >= n_dup_docs:
            return [int(x) for x in rng.permutation(sizes)]
        n += 1


def _mutate(words, rng):
    """A near duplicate: two adjacent words swapped (half of them), else one
    or two single-word substitutions."""
    w = list(words)
    r = rng.random()
    if r < 0.5:
        i = int(rng.integers(0, len(w) - 1))
        w[i], w[i + 1] = w[i + 1], w[i]
        return w
    for _ in range(1 if r < 0.8 else 2):
        w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return w


def corpus_tables(rng):
    n_docs = SCALE["documents"]
    texts = [None] * n_docs
    # clusters: a base document and its near duplicates, all within a
    # 150-id span so the engine's 200-id comparison window sees them
    taken = np.zeros(n_docs, dtype=bool)
    for size in _cluster_sizes(rng, int(n_docs * DUP_SHARE)):
        while True:  # place the cluster where it finds enough free ids
            base = int(rng.integers(0, n_docs - 150))
            slots = [i for i in base + 1 + rng.permutation(150)[:size * 3]
                     if not taken[i]][:size - 1]
            if not taken[base] and len(slots) == size - 1:
                break
        words = [VOCAB[i] for i in rng.integers(0, len(VOCAB),
                                                int(rng.integers(*BASE_WORDS)))]
        texts[base] = words
        taken[base] = True
        for s in slots:
            texts[s] = _mutate(words, rng)
            taken[s] = True
    for i in range(n_docs):
        if texts[i] is None:
            texts[i] = [VOCAB[j] for j in rng.integers(
                0, len(VOCAB), int(rng.integers(*DOC_WORDS)))]
    text = [" ".join(w) for w in texts]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(s) for s in text], dtype=np.int64))})
    n_vec = SCALE["embeddings"]
    v = rng.standard_normal((n_vec, DIM))
    for i in range(1, n_vec):
        if rng.random() < VEC_DUP_SHARE:
            v[i] = v[int(rng.integers(0, i))]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32))})
    return {"documents": docs, "embeddings": emb}


def _pos(rng):
    # CalTopo positions carry 4+ components: [lon, lat, alt, t]
    return [round(float(rng.uniform(-120, -110)), 6),
            round(float(rng.uniform(35, 45)), 6),
            float(rng.integers(0, 4000)), float(rng.integers(0, 1 << 30))]


def _geometry(kind, rng):
    if kind == "Point":
        return _pos(rng)
    if kind == "LineString":
        return [_pos(rng) for _ in range(int(rng.integers(2, 6)))]
    ring = lambda: [_pos(rng) for _ in range(int(rng.integers(3, 6)))]
    if kind == "Polygon":
        return [ring()]
    return [[ring()], [ring()]]  # MultiPolygon


def caltopo_maps(rng):
    """MAPS map documents and the ids the pipeline must deliver for each."""
    maps, expected = {}, {}
    # fixed quantiles of a Pareto tail, in seeded order: every seed has the
    # same size mix, so a pass does the same amount of work
    u = (np.arange(MAPS) + 0.5) / MAPS
    sizes = rng.permutation(np.minimum(
        MAP_MAX, MAP_MIN * (1 - u) ** (-1 / MAP_PARETO)).astype(int))
    kinds = ["Point", "LineString", "Polygon", "MultiPolygon"]
    for m, size in enumerate(sizes):
        name = f"map{m:03d}"
        feats, keep = [], []
        folders = [f"{name}-F{i}" for i in range(FOLDERS)]
        for i, fid in enumerate(folders):
            feats.append({"id": fid, "type": "Feature", "properties": {
                "class": "Folder", "title": f"Folder {i}",
                "creator": "bench", "updated": 1700000000000 + i}})
        for i in range(int(size)):
            fid = f"{name}-{i:05d}"
            r = rng.random()
            kind = kinds[int(rng.choice(4, p=[0.5, 0.3, 0.15, 0.05]))]
            props = {
                "class": "Marker" if kind == "Point" else "Shape",
                "title": f"T{i}", "creator": "bench",
                "updated": 1700000000000 + i,
                "description": None if r < 0.1 else ("" if r < 0.2 else f"d{i}"),
                "marker_color": ["FF0000", "", None][i % 3],
                "stroke": "#FF8800" if i % 3 == 0 else None,
                "stroke_opacity": (i % 10) / 10.0,
                "stroke_width": float(i % 5),
                "fill": "#00AAFF" if i % 4 == 0 else None,
                "fill_opacity": 0.5 if i % 4 == 0 else None,
                "folder_id": folders[i % FOLDERS] if i % 7 else None,
                "visible": bool(i % 2), "label_visible": bool(i % 3 == 0)}
            # about one feature in twenty has no geometry and is dropped
            geom = None if rng.random() < 0.05 else {
                "type": kind, "coordinates": _geometry(kind, rng)}
            feats.append({"id": fid, "type": "Feature",
                          "properties": props, "geometry": geom})
            if geom is not None:
                keep.append(fid)
        maps[name] = {"result": {"state": {
            "type": "FeatureCollection", "features": feats}}}
        expected[name] = sorted(keep)
    return maps, expected


def generate(seed, out):
    """Write the data set for `seed` into `out` (replaced if present)."""
    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "tables"))
    os.makedirs(os.path.join(tmp, "maps"))
    # one independent stream per family, so a change in one family's
    # rules leaves the others' bytes unchanged
    streams = np.random.SeedSequence(seed).spawn(3)
    tables = catalog_tables(np.random.default_rng(streams[0]))
    tables.update(corpus_tables(np.random.default_rng(streams[1])))
    for name, table in tables.items():
        _write(table, os.path.join(tmp, "tables", f"{name}.parquet"))
    maps, expected = caltopo_maps(np.random.default_rng(streams[2]))
    for name, doc in maps.items():
        with open(os.path.join(tmp, "maps", f"{name}.json"), "w") as f:
            json.dump(doc, f, separators=(",", ":"))
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f, separators=(",", ":"), sort_keys=True)
    manifest = {
        "seed": seed,
        "generator": _generator_digest(),
        "rows": {n: t.num_rows for n, t in tables.items()},
        "features": {n: len(d["result"]["state"]["features"])
                     for n, d in maps.items()},
        "digest": digest(tmp),
    }
    manifest["generate_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return manifest


def digest(root):
    """sha256 over the relative path and bytes of every generated file."""
    h = hashlib.sha256()
    for sub in ("tables", "maps"):
        for name in sorted(os.listdir(os.path.join(root, sub))):
            h.update(f"{sub}/{name}\0".encode())
            with open(os.path.join(root, sub, name), "rb") as f:
                h.update(f.read())
    with open(os.path.join(root, "expected.json"), "rb") as f:
        h.update(b"expected.json\0" + f.read())
    return h.hexdigest()


def _generator_digest():
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def ensure(seed, out):
    """Reuse `out` if this generator wrote it for `seed` and it is intact,
    else generate."""
    try:
        with open(os.path.join(out, "manifest.json")) as f:
            manifest = json.load(f)
        if (manifest["seed"], manifest["generator"], manifest["digest"]) == \
                (seed, _generator_digest(), digest(out)):
            return manifest
    except (OSError, ValueError, KeyError):
        pass
    return generate(seed, out)
