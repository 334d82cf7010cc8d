"""Seeded benchmark inputs and their correctness checks.

Extraction corpora come from ``surya_spark.datagen``: ``doc_plan(i)`` is
deterministic per doc index, so a seed selects a disjoint window of doc
indices and the expected output of every doc is known in closed form
(``datagen.expected_out_spans``). The corpus is written to parquet once
per (seed, size) under the cache dir by child processes running this
file, so neither Spark set-up nor a timed job pays for generation.

The query suite reads the sf0.01 tables shipped in ``suite_data/``; its
seed only sets the query order. Results are checked against each query's
DuckDB ``oracle_sql()`` the way ``tools/check_oracles.py`` does.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from surya_spark import datagen

SUITE_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "suite_data")

_SPAN = pa.struct([
    pa.field("kind", pa.string(), nullable=False),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32(), nullable=False),
])
_DOCS = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(_SPAN), nullable=False),
])
_BLOBS = pa.schema([
    pa.field("media_ref", pa.string(), nullable=False),
    pa.field("width", pa.int32(), nullable=False),
    pa.field("height", pa.int32(), nullable=False),
    pa.field("img_bytes", pa.binary(), nullable=False),
])


def doc_window(seed: int, n_docs: int) -> range:
    """The doc indices a seed selects: disjoint windows of n_docs."""
    return range(seed * n_docs, (seed + 1) * n_docs)


def _doc_rows(idx: int) -> tuple[dict, list[dict]]:
    spans = datagen.doc_plan(idx)
    doc = {"doc_id": f"doc-{idx:09d}",
           "spans": [{k: s[k] for k in ("kind", "text", "media_ref",
                                         "offset")} for s in spans]}
    blobs = []
    for s in spans:
        if s["media_ref"] is None:
            continue
        desc = datagen.make_page_descriptor(idx, s["offset"], s["kind"])
        blobs.append({"media_ref": s["media_ref"], "width": desc["w"],
                      "height": desc["h"],
                      "img_bytes": datagen.encode_page(desc)})
    return doc, blobs


def _write_chunk(out: str, part: int, idxs: range) -> None:
    docs, blobs, expected = [], [], {}
    for idx in idxs:
        doc, doc_blobs = _doc_rows(idx)
        docs.append(doc)
        blobs.extend(doc_blobs)
        expected[doc["doc_id"]] = [
            [s["kind"], s["text"], s["media_ref"], s["offset"]]
            for s in datagen.expected_out_spans(idx)]
    name = f"part-{part:05d}.parquet"
    pq.write_table(pa.Table.from_pylist(docs, schema=_DOCS),
                   os.path.join(out, "documents_spans.parquet", name))
    pq.write_table(pa.Table.from_pylist(blobs, schema=_BLOBS),
                   os.path.join(out, "page_blobs.parquet", name))
    with open(os.path.join(out, f"expected-{part:05d}.json"), "w") as f:
        json.dump(expected, f)


def corpus(cache_dir: str, seed: int, n_docs: int, n_files: int) -> str:
    """Write (once) and return the dir holding documents_spans.parquet,
    page_blobs.parquet and the expected spans of this seed's doc window.
    Each of the n_files parts is generated by its own child process."""
    out = os.path.join(cache_dir, f"corpus-s{seed}-n{n_docs}-f{n_files}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for table in ("documents_spans.parquet", "page_blobs.parquet"):
        os.makedirs(os.path.join(tmp, table))
    window = doc_window(seed, n_docs)
    step = -(-n_docs // n_files)
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(sys.path)}
    procs = [subprocess.Popen([sys.executable, os.path.abspath(__file__),
                               tmp, str(k), str(window[i]),
                               str(window[min(i + step, n_docs) - 1] + 1)],
                              env=env)
             for k, i in enumerate(range(0, n_docs, step))]
    if any([p.wait() for p in procs]):
        raise RuntimeError(f"input generation failed for seed {seed}")
    os.rename(tmp, out)
    return out


def kernel_pages(n_docs: int) -> list[tuple[str, int, int, bytes]]:
    """The fixed page sample the kernel-level trace runs on: every page
    and table span of doc indices [0, n_docs), independent of the seed so
    count metrics repeat exactly from run to run."""
    pages = []
    for idx in range(n_docs):
        for s in datagen.doc_plan(idx):
            if s["kind"] not in ("page", "table"):
                continue  # what pipeline.pages_for keeps
            desc = datagen.make_page_descriptor(idx, s["offset"], s["kind"])
            pages.append((s["media_ref"], desc["w"], desc["h"],
                          datagen.encode_page(desc)))
    return pages


def check_extraction(out_rows, corpus_dir: str) -> dict:
    """Compare collected out_spans rows with the closed form: a doc fails
    when its span sequence differs in (kind, text, media_ref, offset), or
    when it is missing or extra."""
    expected = {}
    for path in sorted(glob.glob(os.path.join(corpus_dir, "expected-*"))):
        with open(path) as f:
            expected.update(json.load(f))
    got = {}
    for r in out_rows:
        got[r["doc_id"]] = [[s["kind"], s["text"], s["media_ref"],
                             int(s["offset"])] for s in r["spans"]]
    wrong = [d for d, spans in expected.items() if got.get(d) != spans]
    extra = sorted(set(got) - set(expected))
    return {"attempted": len(expected) + len(extra),
            "failed": len(wrong) + len(extra),
            "examples": (wrong + extra)[:5]}


def check_suite(results: dict, known_edges: set[str]) -> dict:
    """Spark results (pandas frames by query name) against DuckDB's
    oracle_sql() over the same tables. Known edges that differ are listed
    by name and not counted as failures."""
    import duckdb

    import __spark_entry__ as entry_mod
    from check_oracles import TABLES, canon

    oracles = entry_mod.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{SUITE_DATA}/{t}.parquet'")
        failed, edges = [], []
        for name, sdf in results.items():
            ok = canon(sdf) == canon(con.sql(oracles[name]).df())
            if not ok:
                (edges if name in known_edges else failed).append(name)
    finally:
        con.close()
    return {"attempted": len(results), "failed": len(failed),
            "examples": failed, "known_edges_differing": edges}


if __name__ == "__main__":
    # child of corpus(): python3 inputs.py OUT_DIR PART START STOP
    _write_chunk(sys.argv[1], int(sys.argv[2]),
                 range(int(sys.argv[3]), int(sys.argv[4])))
