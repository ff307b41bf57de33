"""Seeded benchmark inputs and the DuckDB output oracle.

Everything here runs before the clock starts. Corpora are generated by
``osmgraft.plans.sql_oracle.stage_pipeline_corpus`` (pure Python, no
Spark) into a cache directory keyed on (seed, n_docs, fingerprint of the
generator sources), so the same seed always yields the same files and a
changed generator never reuses stale ones. Oracle results are cached next
to the corpus as fingerprints of the DuckDB replica's rows.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
from dataclasses import dataclass

from perfbench.measure import fingerprint

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(WORK, "cache")

# sources that decide the generated corpus bytes
_GENERATOR_SOURCES = (
    "osmgraft/sources/synth.py",
    "osmgraft/sources/geoblob.py",
    "osmgraft/plans/sql_oracle.py",
)

# the replicas of the spatial operators scale with points x polygon edges and
# labels^2, so they check the rows with id % MOD == seed % MOD
PIP_SUBSET_MOD = 4
DEDUP_SUBSET_MOD = 64
DEDUP_RADIUS_M = 2000.0
_DONE = "_DONE"


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for rel in paths:
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def generator_fingerprint() -> str:
    return _digest(list(_GENERATOR_SOURCES))


@dataclass(frozen=True)
class Corpus:
    seed: int
    n_docs: int
    dir: str

    @property
    def docs(self) -> str:
        return os.path.join(self.dir, "corpus_docs.parquet")

    @property
    def blobs(self) -> str:
        return os.path.join(self.dir, "corpus_blobs.parquet")

    @property
    def geom(self) -> str:
        return os.path.join(self.dir, "corpus_geom.parquet")


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _mark_done(path: str) -> None:
    with open(os.path.join(path, _DONE), "w"):
        pass


def stage_corpus(seed: int, n_docs: int) -> Corpus:
    from osmgraft.plans.sql_oracle import stage_pipeline_corpus

    d = os.path.join(CACHE, f"corpus-s{seed}-n{n_docs}-{generator_fingerprint()}")
    if not os.path.exists(os.path.join(d, _DONE)):
        _fresh(d)
        # an explicit base: the default path is shared by every caller and
        # its existence check would hand back whatever corpus is there
        stage_pipeline_corpus(n_docs=n_docs, seed=seed, base=os.path.join(d, "corpus"))
        _mark_done(d)
    return Corpus(seed, n_docs, d)


def split_documents(corpus: Corpus, n_files: int) -> str:
    """The corpus documents as ``n_files`` parquet files (file-stream input)."""
    import pyarrow.parquet as pq

    d = os.path.join(corpus.dir, f"docs-{n_files}-files")
    if not os.path.exists(os.path.join(d, _DONE)):
        _fresh(d)
        table = pq.read_table(corpus.docs)
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"))
        _mark_done(d)
    return d


def spatial_frames(corpus: Corpus) -> dict[str, str]:
    """Node points and admin polygons of the corpus as parquet, made by
    the DuckDB replica's decode, so the spatial workload's program sees
    only staged inputs and its set-up runs no Spark."""
    from osmgraft.plans.sql_oracle import node_points_sql

    d = os.path.join(corpus.dir, "spatial")
    paths = {k: os.path.join(d, f"{k}.parquet") for k in ("points", "polygons")}
    if os.path.exists(os.path.join(d, _DONE)):
        return paths
    _fresh(d)
    polygons = f"""
select cast(split_part(r.doc_id, '/', 2) as bigint) as poly_id, g.lats as ring_lats, g.lons as ring_lons
from (
  select doc_id, replace(s.media_ref, 'geom://', '') as ref
  from (select doc_id, unnest(spans) as s from read_parquet('{corpus.docs}'))
  where s.kind = 'geom' and doc_id like 'admin/%'
) r join read_parquet('{corpus.geom}') g on g.blob_id = r.ref and g.gkind = 'seg'
"""
    sql = {
        "points": f"select pid as osm_id, lat, lon from ({node_points_sql(corpus.docs, corpus.geom)})",
        "polygons": polygons,
    }
    for k, q in sql.items():
        _duck(f"copy ({q}) to '{paths[k]}' (format parquet)", fetch=False)
    _mark_done(d)
    return paths


def dense_labels(seed: int, n: int) -> str:
    """``n`` ranked labels (osm_id, rank, lat, lon, label) drawn from 256
    Zipf-weighted Gaussian clusters (centres within 30 degrees of the
    equator) with a 1.2 km spread, so the heaviest clusters put more
    labels into one dedup cell than ``dedup_labels`` needs to route them
    hot. Ranks are a
    seeded permutation (a total order, as ``global_rank`` gives)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # keyed on this generator and on the replica whose oracle is cached beside it
    key = _digest(["perfbench/inputs.py", "osmgraft/plans/sql_oracle.py"])
    d = os.path.join(CACHE, f"labels-s{seed}-n{n}-{key}")
    path = os.path.join(d, "labels.parquet")
    if os.path.exists(os.path.join(d, _DONE)):
        return path
    _fresh(d)
    rng = np.random.default_rng([seed, 2000])
    k = 256
    # a low-latitude band keeps cell areas, and so the dedup work, alike
    # from seed to seed
    c_lat = rng.uniform(-30.0, 30.0, k)
    c_lon = rng.uniform(-180.0, 180.0, k)
    sigma_km = 1.2
    w = 1.0 / np.arange(1, k + 1)
    cl = rng.choice(k, n, p=w / w.sum())
    km_lat = 111.32
    lat = np.clip(c_lat[cl] + rng.normal(0.0, 1.0, n) * sigma_km / km_lat, -85.0, 85.0)
    km_lon = km_lat * np.cos(np.radians(c_lat[cl]))
    lon = (c_lon[cl] + rng.normal(0.0, 1.0, n) * sigma_km / km_lon + 180.0) % 360.0 - 180.0
    osm_id = rng.permutation(n).astype(np.int64) + 1
    table = pa.table({
        "osm_id": osm_id,
        "rank": rng.permutation(n).astype(np.int64),
        "lat": lat,
        "lon": lon,
        "label": [f"L{i}" for i in osm_id],
    })
    pq.write_table(table, path)
    _mark_done(d)
    return path


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------


def _cached(corpus: Corpus, name: str, compute) -> dict:
    path = os.path.join(corpus.dir, f"oracle-{name}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = compute()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value


def _duck(sql: str, fetch: bool = True) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"set threads = {len(os.sched_getaffinity(0))}")
        con.execute("set memory_limit = '2GB'")
        con.execute(f"set temp_directory = '{os.path.join(WORK, 'tmp', 'duckdb')}'")
        cur = con.execute(sql)
        return cur.fetchall() if fetch else []
    finally:
        con.close()


def label_key(r: dict) -> tuple:
    """Comparable label row: the replica rounds coordinates to 6 places."""
    return (
        round(r["lat"], 6), round(r["lon"], 6), r["level_id"], r["rank"],
        r["radius"], r["osm_id"], r["label"], r["factor"],
    )


def without_rank(key: tuple) -> tuple:
    return key[:3] + key[4:]


def oracle_labels(corpus: Corpus) -> dict:
    """Fingerprints of the replica's ranked labels, with and without rank."""
    from osmgraft.plans.sql_oracle import label_pipeline_sql
    from osmgraft.sources.config import default_config

    def compute() -> dict:
        rows = _duck(label_pipeline_sql(corpus.docs, corpus.geom, default_config()))
        cols = ("lat", "lon", "level_id", "rank", "radius", "osm_id", "label", "factor")
        keys = [label_key(dict(zip(cols, r))) for r in rows]
        return {
            "labels": fingerprint(keys),
            "labels_norank": fingerprint(without_rank(k) for k in keys),
        }

    return _cached(corpus, "labels", compute)


def _narrow(sql: str, anchor: str, replacement: str) -> str:
    if anchor not in sql:
        raise RuntimeError(f"replica SQL no longer contains {anchor!r}; update the subset filter")
    return sql.replace(anchor, replacement)


def oracle_pip(corpus: Corpus) -> dict:
    """Fingerprint of the replica's (osm_id, poly_id) point-in-polygon hits
    for the points with ``osm_id % PIP_SUBSET_MOD == seed % PIP_SUBSET_MOD``."""
    from osmgraft.plans.sql_oracle import pip_admin_sql

    rem = corpus.seed % PIP_SUBSET_MOD

    def compute() -> dict:
        anchor = "where d.doc_id like 'node/%'"
        sql = _narrow(
            pip_admin_sql(corpus.docs, corpus.geom),
            anchor,
            f"{anchor} and cast(split_part(d.doc_id, '/', 2) as bigint) % {PIP_SUBSET_MOD} = {rem}",
        )
        return fingerprint(_duck(sql))

    return _cached(corpus, f"pip-{rem}", compute)


def oracle_dedup(labels_path: str, seed: int) -> dict:
    """Fingerprint of the replica's dedup survivors among the staged
    labels with ``osm_id % DEDUP_SUBSET_MOD == seed % DEDUP_SUBSET_MOD``
    (suppressors are still searched among all labels). The replica's
    suppression query runs over the staged labels, with a latitude window
    that no pair within the radius falls outside."""
    from osmgraft.plans.sql_oracle import dedup_labels_sql
    from osmgraft.sources.config import default_config

    rem = seed % DEDUP_SUBSET_MOD
    path = os.path.join(os.path.dirname(labels_path), f"oracle-dedup-{rem}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    sql = dedup_labels_sql("", "", default_config(), DEDUP_RADIUS_M)
    body = sql[sql.index("select a.osm_id from ranked a"):]
    body = _narrow(
        body,
        "from ranked a\nwhere not exists",
        f"from ranked a\nwhere a.osm_id % {DEDUP_SUBSET_MOD} = {rem} and not exists",
    )
    # haversine distance >= R * |dlat|, so |dlat| > radius / R rules a pair out
    window = math.degrees(DEDUP_RADIUS_M / 6371008.8) * 1.001
    body = _narrow(body, "where b.rank < a.rank and", f"where b.rank < a.rank and abs(b.lat - a.lat) <= {window!r} and")
    value = fingerprint(
        _duck(f"with ranked as (select osm_id, rank, lat, lon from read_parquet('{labels_path}'))\n{body}")
    )
    with open(path + ".tmp", "w") as fh:
        json.dump(value, fh)
    os.replace(path + ".tmp", path)
    return value


def tiles_consistent(rows: list[dict], z: int) -> bool:
    """Every row's (tile_z, tile_x, tile_y) is its slippy tile at zoom z."""
    n = 1 << z
    lim = 85.05112878
    for r in rows:
        lat = max(-lim, min(lim, r["lat"]))
        x = min(math.floor((r["lon"] + 180.0) / 360.0 * n), n - 1)
        phi = math.radians(lat)
        y = math.floor((1.0 - math.log(math.tan(phi) + 1.0 / math.cos(phi)) / math.pi) / 2.0 * n)
        y = min(max(y, 0), n - 1)
        if (r["tile_z"], r["tile_x"], r["tile_y"]) != (z, x, y):
            return False
    return True


def read_rows(path: str) -> list[dict]:
    """Rows of a parquet directory written by Spark (hive partitions kept)."""
    import pyarrow.dataset as ds

    # listed explicitly: pyarrow skips directories named "_...", which
    # would hide the stream sink's "_epoch=<n>" partitions
    files = sorted(
        os.path.join(d, n) for d, _, names in os.walk(path) for n in names if n.endswith(".parquet")
    )
    table = ds.dataset(files, format="parquet", partitioning="hive", partition_base_dir=path).to_table()
    return table.to_pylist()
