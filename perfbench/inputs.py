"""Seeded input generation for the benchmark workloads, with oracles.

The program under test only ever sees the files written here. Each input
set is derived from (workload, seed, size) alone and cached under
``<cache>/inputs/<workload>-s<seed>-n<size>/``; a ``meta.json`` written last
marks the set complete and carries the oracle the run checks against.

Run as a script it builds one input set (the benchmark calls it in a child
process, so generation time and its imports stay out of ``setup_s``):

    python3 perfbench/inputs.py --workload census --seed 1 --size 5000 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
from collections import Counter
from datetime import timezone

N_FILES = 16  # input files per table: 4 scan splits per core on a 4-core host

# pages whose text is made deliberately malformed (job workload): about 1%
MALFORMED_LINE = "this line is not a slow-log entry\n"

# doc-id stride between seed slots: the seed shifts render_page's doc-id range.
# Any integer seed folds onto one of SEED_SLOTS slots, so doc ids (and the
# warc_ts render_page derives from them, one second per doc id) stay in range.
SEED_STRIDE = 100_000
SEED_SLOTS = 1000


def seed_slot(seed: int) -> int:
    """The input slot of a benchmark seed: 0 <= slot < SEED_SLOTS."""
    return seed % SEED_SLOTS


def _write_files(table, out_dir: str, name: str) -> str:
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, name)
    os.makedirs(path)
    per = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(
            table.slice(i * per, per), os.path.join(path, f"part-{i:02d}.parquet")
        )
    return path


def is_malformed(doc_id: int) -> bool:
    h = hashlib.blake2b(f"malformed|{doc_id}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "big") % 100 == 0


def page_row(doc_id: int, malformed: bool) -> dict:
    """gen.render_page, plus one non-entry line before the first entry of a
    malformed page (after the file preamble, when the page has one)."""
    from slowspark.gen import render_page

    row = render_page(doc_id)
    if malformed:
        i = row["text"].index("# Time: ")
        text = row["text"][:i] + MALFORMED_LINE + row["text"][i:]
        row["text"] = text
        row["html"] = b"<html><body><pre>" + text.encode("utf-8") + b"</pre></body></html>"
    return row


def expected_kind_type_counts(doc_ids, malformed: set[int]) -> Counter:
    """Closed-form (entry_kind, sql_type) counts from render_entry's tags —
    built by construction, never by running the parser. Each malformed page
    adds exactly one ParseError row."""
    from slowspark.gen import entries_per_page, render_entry

    c: Counter = Counter()
    for d in doc_ids:
        for i in range(entries_per_page(d)):
            tag = render_entry(d, i)[0]
            if tag.startswith("sql:"):
                c[("SqlStatement", tag[4:])] += 1
            elif tag.startswith("admin:"):
                c[("AdminCommand", None)] += 1
            else:
                c[("InvalidStatement", None)] += 1
    if malformed:
        c[("ParseError", None)] += len(malformed)
    return c


def gen_pages(out_dir: str, seed: int, n_pages: int, with_malformed: bool) -> dict:
    import pyarrow as pa

    base = seed * SEED_STRIDE
    doc_ids = range(base, base + n_pages)
    bad = {d for d in doc_ids if with_malformed and is_malformed(d)}
    rows = [page_row(d, d in bad) for d in doc_ids]
    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        # tz-aware so Spark reads TIMESTAMP (the pages schema), not NTZ
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    for r in rows:
        r["warc_ts"] = r["warc_ts"].replace(tzinfo=timezone.utc)
    _write_files(pa.Table.from_pylist(rows, schema=schema), out_dir, "pages")
    counts = expected_kind_type_counts(doc_ids, bad)
    return {
        "rows": n_pages,
        "n_entries": sum(counts.values()),
        "n_malformed": len(bad),
        "kind_type_counts": sorted(
            [k, t, n] for (k, t), n in counts.items()
        ),
    }


# --- rollup: synthetic entries table ------------------------------------------

ROLLUP_ZIPF_S = 0.9


def gen_rollup(out_dir: str, seed: int, n_rows: int) -> dict:
    """Entries-shaped table with ~n_rows/10 fingerprints, Zipf-skewed so the
    hottest fingerprint holds a few percent of the SQL rows."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng([seed, 0x5EED])
    n_fp = max(10, n_rows // 10)
    w = 1.0 / np.arange(1, n_fp + 1) ** ROLLUP_ZIPF_S
    fp_id = rng.choice(n_fp, size=n_rows, p=w / w.sum())
    kind_id = np.searchsorted([0.62, 0.93, 0.99], rng.random(n_rows), side="right")
    is_sql = kind_id == 0
    # per-row index into the per-fingerprint tables; null for non-SQL rows
    sql_fp = pa.array(fp_id, pa.int64(), mask=~is_sql)
    tables = [f"t{k % 500}" for k in range(n_fp)]
    schemas = [None, "shop", "analytics"]
    objects = [
        [{"schema_name": schemas[k % 3], "object_name": tables[k]}]
        + ([{"schema_name": None, "object_name": f"j{k % 37}"}] if k % 4 == 0 else [])
        for k in range(n_fp)
    ]
    obj_t = pa.list_(pa.struct([
        pa.field("schema_name", pa.string()),
        pa.field("object_name", pa.string(), nullable=False),
    ]))
    sql_types = ["SELECT", "INSERT", "UPDATE", "DELETE"]
    # the dims' hosts and langs (slowspark.gen), a null, and one of each
    # that no dim row matches
    hosts = ["localhost", "app01.prod.net", "app02.prod.net", "batch.internal",
             None, "unknown.example.net"]
    langs = ["en", "de", "fr", "es", "it", "pt", "nl", "ja", "zh", "ru", "xx"]
    kinds = ["SqlStatement", "InvalidStatement", "AdminCommand", "ParseError"]
    table = pa.table({
        "entry_id": rng.permutation(n_rows).astype(np.int64) + seed * SEED_STRIDE,
        "entry_kind": pa.array(kinds).take(kind_id),
        "sql_type": pa.array([sql_types[k % 4] for k in range(n_fp)]).take(sql_fp),
        "fingerprint": pa.array(
            [f"select * from {tables[k]} where c{k} = ?" for k in range(n_fp)]
        ).take(sql_fp),
        # whole microseconds, as the slow log records them
        "query_time": np.round(rng.lognormal(-6.0, 1.5, n_rows), 6),
        "lock_time": np.round(rng.random(n_rows) * 1e-3, 6),
        "rows_sent": rng.integers(0, 100, n_rows),
        "rows_examined": rng.integers(0, 10_000, n_rows),
        "host": pa.array(hosts).take(rng.integers(0, len(hosts), n_rows)),
        "lang": pa.array(langs).take(rng.integers(0, len(langs), n_rows)),
        "warc_ts": pa.array(
            1_517_798_803_000_000 + rng.integers(0, 7 * 86400 * 1_000_000, n_rows),
            pa.timestamp("us", tz="UTC"),
        ),
        "objects": pa.array(objects, obj_t).take(sql_fp),
    })
    path = _write_files(table, out_dir, "entries")
    expected = os.path.join(out_dir, "expected")
    os.makedirs(expected)
    from perfbench.checks import rollup_expected

    for name, df in rollup_expected(path).items():
        df.to_parquet(os.path.join(expected, f"{name}.parquet"))
    return {"rows": n_rows, "n_fingerprints": int(np.unique(fp_id[is_sql]).size)}


# --- graph: a link graph -----------------------------------------------------


def _edges(rng, n_edges: int):
    """Power-law in-degree link graph over n_edges/4 string nodes; a fifth of
    the nodes never link out (dangling mass). Deduplicated, no self-loops."""
    import numpy as np

    n_nodes = max(8, n_edges // 4)
    w = 1.0 / np.arange(1, n_nodes + 1) ** 1.1
    src = rng.integers(0, int(n_nodes * 0.8), int(n_edges * 1.3))
    dst = rng.choice(n_nodes, size=src.size, p=w / w.sum())
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    pairs = pairs[rng.permutation(len(pairs))[:n_edges]]
    return [f"n{v}" for v in pairs[:, 0]], [f"n{v}" for v in pairs[:, 1]]


def gen_graph(out_dir: str, seed: int, n_edges: int) -> dict:
    import numpy as np
    import pyarrow as pa

    src, dst = _edges(np.random.default_rng([seed, 0x6EA9]), n_edges)
    _write_files(pa.table({"src": src, "dst": dst}), out_dir, "edges")
    return {"rows": len(src)}


GENERATORS = {
    "census": lambda out, seed, n: gen_pages(out, seed, n, with_malformed=False),
    "job": lambda out, seed, n: gen_pages(out, seed, n, with_malformed=True),
    "rollup": gen_rollup,
    "graph": gen_graph,
}


def build(workload: str, seed: int, size: int, out: str) -> dict:
    """Build one input set into ``out`` atomically (tmp dir, then rename)."""
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[workload](tmp, seed, size)
    meta.update(workload=workload, seed=seed, size=size)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return meta


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--size", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    build(a.workload, a.seed, a.size, a.out)
    return 0


if __name__ == "__main__":
    # the checkout root: slowspark (the program) and perfbench live there
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
