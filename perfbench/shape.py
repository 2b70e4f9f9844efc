"""Shape figures of a documents corpus, computed with DuckDB.

    python3 perfbench/shape.py DIR [--replicas K] [--upper-copies]

``DIR`` holds ``documents.parquet`` (a curation input or an sf0.1-style
test data directory) or ``docs/*.json`` (a small_batches input; the
good lines are read). ``--replicas K`` applies the
``tools/gen_scale_data.py`` replica method to the documents first, and
``--upper-copies`` adds the case-mangled copy the registry's curation
queries add, so a test data directory can be compared with a generated
input of the same construction. Prints one JSON object: label and token
distributions, the share of near-dup copies, the curation funnel
(language, quality, exact-dedup keep share) and the keep-best near-dup
survivors with their group sizes. ``NOTES.md`` records the figures of
the sf0.1 corpus beside those of the generated inputs.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from workloads import DOCS_DDL, duck_json, materialized  # noqa: E402


def shape(con) -> dict:
    """Figures of the ``documents`` view of ``con``."""
    from etl_tools_rs_spark.queries import _CURATION_STAGE_SQL, REGISTRY

    def one(sql):
        return con.execute(sql).fetchone()

    n = one("SELECT count(*) FROM documents")[0]
    toks = "len(string_split_regex(trim(text), '\\s+'))"
    funnel = one(
        f"WITH {materialized(_CURATION_STAGE_SQL)} "
        "SELECT avg((lang_pred = 'en')::int), avg((pass_lang AND pass_quality)::int), "
        "count(DISTINCT fp) FILTER (WHERE pass_lang AND pass_quality) / count(*) FROM s"
    )
    merged = dict(con.execute(
        f"SELECT n_merged, count(*) FROM ({materialized(REGISTRY['dedup_keep_best_documents'].oracle)}) "
        "GROUP BY 1 ORDER BY 1"
    ).fetchall())
    return {
        "documents": n,
        "lang_label": dict(con.execute(
            f"SELECT lang, round(count(*) / {n}, 3) FROM documents GROUP BY 1 ORDER BY 1"
        ).fetchall()),
        "tokens_p10_p50_p90": one(f"SELECT quantile_disc({toks}, [0.1, 0.5, 0.9]) FROM documents")[0],
        "tokens_min_max": list(one(f"SELECT min({toks}), max({toks}) FROM documents")),
        "vocabulary": one(
            "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split_regex(lower(trim(text)), "
            "'\\s+')) AS w FROM documents)")[0],
        "dup_copy_share": one("SELECT avg((text ILIKE '% dup')::int) FROM documents")[0],
        "lang_pred_en_share": funnel[0],
        "pass_lang_quality_share": funnel[1],
        "exact_dedup_keep_share": funnel[2],
        "keep_best_survivor_share": sum(merged.values()) / n,
        "keep_best_group_sizes": {int(k) + 1: v for k, v in merged.items()},
    }


def load(con, path: str, replicas: int = 1, upper_copies: bool = False) -> None:
    """Create the ``documents`` view over the corpus in ``path``."""
    if os.path.exists(f"{path}/documents.parquet"):
        base = f"SELECT doc_id, text, lang FROM read_parquet('{path}/documents.parquet')"
    else:
        base = duck_json(sorted(glob.glob(f"{path}/docs/*.json")), DOCS_DDL)
    con.execute(f"CREATE VIEW base AS {base}")
    n_ids = con.execute("SELECT max(doc_id) + 1 FROM base").fetchone()[0]
    parts = [
        "SELECT doc_id, text, lang FROM base" if r == 0 else
        f"SELECT doc_id + {r * n_ids}, text || ' rep {r}', lang FROM base"
        for r in range(replicas)
    ]
    con.execute("CREATE VIEW replicated AS " + " UNION ALL ".join(parts))
    docs = "SELECT * FROM replicated"
    if upper_copies:
        docs += " UNION ALL SELECT doc_id + 1000000, upper(text), lang FROM replicated"
    con.execute(f"CREATE VIEW documents AS {docs}")


def main() -> int:
    import duckdb

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir")
    ap.add_argument("--replicas", type=int, default=1)
    ap.add_argument("--upper-copies", action="store_true")
    args = ap.parse_args()
    con = duckdb.connect()
    load(con, args.dir, args.replicas, args.upper_copies)
    print(json.dumps(shape(con)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
