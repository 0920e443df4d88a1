"""Deterministic fixture warehouse for the benchmark.

Writes the ten tables the engine's catalog knows (TPC-H-shaped star
schema plus ``events``, ``documents`` and ``embeddings``) as single-file
parquet, modelled on the engine's reference fixtures. The data depends
only on ``DATA_SEED`` and the scale factor, so a cached copy is reused
across runs and the committed golden fingerprints stay valid.

    python3 perfbench/datagen.py --sf 0.1 --compare REFERENCE_DIR

generates the warehouse and lists every difference from a reference
fixture directory: row counts, parquet schemas, and per-column minimum,
maximum and approximate distinct count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generator's output changes, so stale caches are rebuilt.
GENERATOR_VERSION = 1

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
_LANGS = ["en", "fr", "es", "de", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EMB_DIM = 64


def _sizes(sf: float) -> dict[str, int]:
    """Row counts per table; documents and embeddings follow the reference
    fixtures, which keep them at 500 rows up to sf0.01."""
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": n(15_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    s = _sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = s["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = s["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = s["part"]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_PART_ADJ, npart), rng.choice(_PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    no = s["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    nl = s["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = s["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, ne)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, s["users"], ne).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = s["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    nv = s["embeddings"]
    vec = rng.standard_normal((nv, _EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return t


def ensure_dataset(root: Path, sf: float) -> Path:
    """Return the directory holding the sf-sized warehouse, generating it
    on first use. A ``_DONE`` marker makes an interrupted build restart
    from scratch instead of serving half-written tables."""
    out = root / f"sf{sf:g}-g{GENERATOR_VERSION}"
    if (out / "_DONE").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in build_tables(sf).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    (tmp / "_DONE").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def ensure_clone(root: Path, src: Path, k: int, tmp: Path) -> Path:
    """Return the K-times multi-file clone of the ``src`` warehouse,
    building it on first use with ``scripts/make_scaled_fixtures.py`` (a
    Spark job, so it runs in a child process with its scratch files
    under ``tmp``)."""
    out_root = root / f"{src.name}-k{k}"
    if not (out_root / "_DONE").exists():
        shutil.rmtree(out_root, ignore_errors=True)
        script = Path(__file__).resolve().parents[1] / "scripts" / "make_scaled_fixtures.py"
        env = dict(os.environ, SPARK_GRAFT_SCALE_KS=str(k),
                   JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        subprocess.run([sys.executable, str(script), str(src), str(out_root)],
                       cwd=tmp, env=env, stdout=sys.stderr, check=True)
        (out_root / "_DONE").write_text("")
    return next(p for p in out_root.iterdir() if p.is_dir())


def inventory(sf_dir: Path) -> dict[str, dict[str, int]]:
    """Files, rows and bytes of every table, read from parquet footers.
    A table is one parquet file or a directory of part files."""
    inv = {}
    for name in TABLES:
        path = sf_dir / f"{name}.parquet"
        files = sorted(path.glob("*.parquet")) if path.is_dir() else [path]
        inv[name] = {
            "files": len(files),
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "bytes": sum(f.stat().st_size for f in files),
        }
    return inv


def compare(ref: Path, gen: Path) -> list[str]:
    """Differences between two warehouses, one line each."""
    import duckdb

    con = duckdb.connect()
    out = []
    for name in TABLES:
        a, b = (pq.ParquetFile(d / f"{name}.parquet") for d in (ref, gen))
        if a.metadata.num_rows != b.metadata.num_rows:
            out.append(f"{name}: rows {a.metadata.num_rows} != {b.metadata.num_rows}")
        if a.schema_arrow != b.schema_arrow:
            out.append(f"{name}: schema {a.schema_arrow} != {b.schema_arrow}")
            continue
        for field in a.schema_arrow:
            if pa.types.is_list(field.type):
                continue
            c = field.name
            stats = [con.execute(
                f"SELECT min({c})::VARCHAR, max({c})::VARCHAR, approx_count_distinct({c}) "
                f"FROM read_parquet('{d / f'{name}.parquet'}')").fetchone() for d in (ref, gen)]
            if stats[0] != stats[1]:
                out.append(f"{name}.{c}: (min, max, distinct) {stats[0]} != {stats[1]}")
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Generate the benchmark warehouse.")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--compare", type=Path, help="reference fixture directory")
    args = ap.parse_args()
    gen = ensure_dataset(Path(__file__).resolve().parent / ".cache", args.sf)
    print(gen)
    if args.compare:
        diffs = compare(args.compare, gen)
        print("\n".join(diffs) or "no differences")
