"""Seeded input generator for the benchmark workloads.

Runs as its own process, before the set-up timer starts, so generation
never shows in the Spark driver's memory or in ``setup_s``. Writes the inputs
under ``<out>/`` plus ``manifest.json``, which records the generated row
counts, the injected malformed counts per file, and the expected output
digests computed with DuckDB (never with Spark). Output is a pure
function of (workload, seed, size): the same arguments give the same
bytes, so a finished directory is reused as a cache.

Documents follow the recipe measured on the sf0.1 ``documents`` table
(5,000 rows; ``shape.py`` prints the figures, ``NOTES.md`` records them):
text is a uniform draw from a 30-word vocabulary, 10 to 100 tokens;
the ``lang`` label is drawn independently of the text; ``source`` is
``src{doc_id % 20}``; and 5% of the documents copy the text of another
document with `` dup`` appended. Embeddings follow the sf0.1
``embeddings`` table: 64-dim unit vectors of isotropic Gaussians, with
a uniform label in 0..9.

    python3 perfbench/gen.py --workload curation --seed 1 --out DIR [--size toy]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from digest import relation_digest  # noqa: E402
from workloads import SIZES, WORKLOADS  # noqa: E402

# the sf0.1 documents vocabulary (every word but the near-dup marker)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_TOKENS, MAX_TOKENS = 10, 100
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]  # sf0.1: .140 .412 .149 .148 .151
DUP_FRAC = 0.05  # sf0.1: 250 of 5,000 documents
N_SOURCES = 20
DIM = 64
N_LABELS = 10
UPPER_ID_OFFSET = 1_000_000  # the registry's offset for case-mangled copies
TS_BASE = 1_704_067_200  # 2024-01-01T00:00:00Z
TS_SPAN_S = 300  # inside the drain's 10-minute watermark: nothing is late


def _bad_rows(rng: np.random.Generator, n: int, rate: float) -> np.ndarray:
    """Sorted distinct row indices to corrupt (at least one per file)."""
    k = max(1, int(round(n * rate)))
    return np.sort(rng.choice(n, size=k, replace=False))


def doc_corpus(rng: np.random.Generator, n: int) -> tuple[list[str], list[str]]:
    """``n`` document texts and ``lang`` labels in the sf0.1 shape."""
    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n)
    texts = [" ".join(rng.choice(VOCAB, size=k)) for k in lengths]
    langs = [LANGS[i] for i in rng.choice(len(LANGS), size=n, p=LANG_P)]
    for i in rng.choice(n, size=int(round(n * DUP_FRAC)), replace=False):
        j = (i + rng.integers(1, n)) % n  # any other document
        texts[i] = texts[j] + " dup"
    return texts, langs


def _unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.normal(size=(n, DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def gen_curation(rng: np.random.Generator, out: str, size: dict) -> dict:
    """A base corpus, then the ``tools/gen_scale_data.py`` replica method:
    replica ``r`` shifts ids by ``r * n``, appends `` rep {r}`` to each
    text (recomputing ``n_chars``) and adds a jitter of k/100000,
    k uniform in [-500, 500), to each embedding element, so replicas are
    near-duplicates of their originals rather than exact copies."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    k = size["replicas"]
    n_docs, n_vecs = size["documents"], size["embeddings"]
    texts, langs = doc_corpus(rng, n_docs)
    rep_text = [t if r == 0 else f"{t} rep {r}" for r in range(k) for t in texts]
    doc_id = np.arange(k * n_docs)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": rep_text,
            "lang": langs * k,
            "source": [f"src{i % N_SOURCES}" for i in doc_id % n_docs],
            "n_chars": pa.array([len(t) for t in rep_text], pa.int64()),
        }),
        f"{out}/documents.parquet",
    )
    base = _unit_vectors(rng, n_vecs).astype(np.float32)
    labels = rng.integers(0, N_LABELS, size=n_vecs)
    emb = np.concatenate([base] + [
        base + rng.integers(-500, 500, size=base.shape).astype(np.float32) / 100_000
        for _ in range(1, k)
    ]).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(len(emb)), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(np.tile(labels, k), pa.int32()),
        }),
        f"{out}/embeddings.parquet",
    )
    return {
        "files": {
            f"{out}/documents.parquet": {"rows": len(doc_id), "malformed": 0},
            f"{out}/embeddings.parquet": {"rows": len(emb), "malformed": 0},
        }
    }


def gen_small_batches(rng: np.random.Generator, out: str, size: dict) -> dict:
    """``files`` small NDJSON document files, delivered in order (their
    modification times increase). File ``f`` holds ``docs_per_file`` new
    documents and, from the second file on, a re-delivery of file
    ``f - 1``'s documents, upper-cased and with ids shifted by
    ``UPPER_ID_OFFSET``: the case-mangled copy the registry's curation
    queries add, which fingerprints like its original, so the drain's
    dedup stage removes one of each pair. A copy keeps its original's
    timestamp; every timestamp lies within ``TS_SPAN_S``."""
    os.makedirs(f"{out}/docs")
    n_files, per = size["files"], size["docs_per_file"]
    texts, langs = doc_corpus(rng, n_files * per)
    ts = TS_BASE + np.sort(rng.integers(0, TS_SPAN_S, size=len(texts)))

    def row(i: int, copy: bool) -> str:
        return json.dumps({
            "doc_id": i + UPPER_ID_OFFSET * copy,
            "text": texts[i].upper() if copy else texts[i],
            "lang": langs[i],
            "ts": np.datetime64(int(ts[i]), "s").astype(str),
        })

    files: dict[str, dict] = {}
    for f in range(n_files):
        rows = [row(i, False) for i in range(f * per, (f + 1) * per)]
        if f:
            rows += [row(i, True) for i in range((f - 1) * per, f * per)]
        bad = _bad_rows(rng, len(rows), size["malformed_rate"])
        for i in bad:  # truncated JSON object
            rows[i] = rows[i][: len(rows[i]) // 2]
        path = f"{out}/docs/batch-{f:03d}.json"
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(rows) + "\n")
        os.utime(path, (TS_BASE + f, TS_BASE + f))
        files[path] = {"rows": len(rows), "malformed": int(len(bad))}
    return {"files": files}


GENERATORS = {
    "curation": gen_curation,
    "small_batches": gen_small_batches,
}


def expected_digests(workload: str, size: dict, out: str) -> dict[str, dict]:
    """Expected digest per output, from DuckDB over the generated files."""
    import duckdb

    con = duckdb.connect()
    views, outputs = WORKLOADS[workload](size).expected(out)
    for name, sql in views.items():
        con.execute(f"CREATE OR REPLACE VIEW {name} AS {sql}")
    return {name: relation_digest(con, sql) for name, sql in outputs.items()}


def generate(workload: str, seed: int, out: str, size_name: str = "full") -> dict:
    """Generate into ``out`` (replacing it) and return the manifest."""
    size = SIZES[workload][size_name]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # the workload name is folded into the seed so workloads draw
    # independent streams for the same --seed
    wl_key = sum(ord(c) for c in workload)
    rng = np.random.default_rng([seed, wl_key])
    manifest = GENERATORS[workload](rng, tmp, size)
    # store file paths relative to the directory so it can be renamed
    manifest["files"] = {
        os.path.relpath(p, tmp): v for p, v in manifest["files"].items()
    }
    manifest.update(workload=workload, seed=seed, size=size_name)
    manifest["rows"] = sum(v["rows"] for v in manifest["files"].values())
    manifest["malformed"] = sum(v["malformed"] for v in manifest["files"].values())
    manifest["expected"] = expected_digests(workload, size, tmp)
    for output, subdir in WORKLOADS[workload].copies.items():
        good = sum(v["rows"] - v["malformed"] for f, v in manifest["files"].items()
                   if f.startswith(subdir + "/"))
        if manifest["expected"][output]["rows"] != good:
            raise RuntimeError(
                f"DuckDB reads {manifest['expected'][output]['rows']} good "
                f"{output} rows, the generator wrote {good}"
            )
    with open(f"{tmp}/manifest.json", "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return manifest


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--size", default="full", choices=("full", "toy"))
    args = ap.parse_args()
    m = generate(args.workload, args.seed, args.out, args.size)
    print(json.dumps({"rows": m["rows"], "malformed": m["malformed"]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
