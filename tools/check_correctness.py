"""Local replica of the driver's correctness gate.

Runs every registry query on Spark AND its DuckDB oracle over the same
parquet tables, compares row count, column names, and order-insensitive
values (columns sorted by name, rows sorted, values normalized). Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb

# resolve the repo root from THIS file, not the cwd — the gate (and the
# __spark_entry__ import it depends on) must behave identically when
# invoked from anywhere (r7, ADVICE fix)
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_val(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    return str(v)


def frame_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_val(r[i]) for i in order) for r in rows)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from etl_tools_rs_spark.session import get_spark

    spark = get_spark("correctness-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # r7: oracles embedding artifacts AUTHORED at one sf (tokenizer maps,
    # PCA model literals, hash band tables) are value-valid only there —
    # at any other sf the gate records rows-only (out of scope) instead
    # of a spurious hash FAIL. Scope comes from the registry metadata.
    from etl_tools_rs_spark.queries import REGISTRY

    sf_label = os.path.basename(os.path.normpath(sf_dir)).removeprefix("sf")
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            results[name] = {"status": "fail", "err": f"spark: {e}"}
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            results[name] = {"status": "rows_only", "spark_rows": len(srows)}
            continue
        scope = REGISTRY[name].oracle_sf if name in REGISTRY else None
        oracle_sql = oracles[name]
        oracle_variant = None
        if scope is not None and scope != sf_label:
            # r9 (VERDICT r8 #3): a re-authored artifact for THIS sf
            # restores the full value check; out-of-scope only when no
            # per-sf variant exists either
            oracle_sql = REGISTRY[name].oracle_for(sf_label)
            if oracle_sql is not None:
                oracle_variant = sf_label
            else:
                print(
                    f"ROWS  {name}: {len(srows)} rows (oracle authored at "
                    f"sf{scope}, out of scope here) [{time.time()-t0:.1f}s]"
                )
                results[name] = {
                    "status": "rows_only_out_of_scope",
                    "oracle_sf": scope,
                    "spark_rows": len(srows),
                }
                continue
        try:
            res = con.execute(oracle_sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            results[name] = {"status": "fail", "err": f"duckdb: {e}"}
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            sk, dk = frame_key(scols, srows), frame_key(dcols, drows)
            if sk != dk:
                bad = sum(1 for a, b in zip(sk, dk) if a != b)
                problems.append(f"values differ in {bad}/{len(sk)} rows")
                for a, b in list(zip(sk, dk))[:200]:
                    if a != b:
                        problems.append(f"  spark={a}")
                        problems.append(f"  duck ={b}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems) + f" [{time.time()-t0:.1f}s]")
            failures.append(name)
            results[name] = {
                "status": "fail",
                "spark_rows": len(srows),
                "oracle_rows": len(drows),
                "err": "; ".join(problems),
            }
        else:
            tag = (
                f" (sf{oracle_variant}-authored oracle variant)"
                if oracle_variant
                else ""
            )
            print(
                f"OK    {name}: {len(srows)} rows{tag} [{time.time()-t0:.1f}s]"
            )
            results[name] = {
                "status": "ok",
                "spark_rows": len(srows),
                "oracle_rows": len(drows),
            }
            if oracle_variant:
                results[name]["oracle_variant_sf"] = oracle_variant
    out_path = os.environ.get("SPARK_GRAFT_GATE_OUT")
    if out_path and not only:
        with open(out_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_failures": len(failures),
                    "results": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {out_path}")
        # The scale audit regenerates in the SAME step that refreshes the
        # gate artifact (r6 — twice in a row a registry growth left
        # SCALE_AUDIT.json stale): every full-registry gate run rewrites
        # SCALE_AUDIT.json, so n_queries can never lag the registry.
        #
        # The audit is DELIBERATELY pinned to the smallest sf rather than
        # the gate's sf_dir (r7, documented per ADVICE): its detectors are
        # plan-shape structural, and the smallest data is the ADVERSARIAL
        # case for the broadcast markers — every side sits under the
        # broadcast threshold there, so explode-broadcast shapes expose
        # themselves maximally; at bigger sfs honest estimates flip joins
        # to shuffles and would HIDE the structural risk. Pinning also
        # keeps the committed artifact deterministic regardless of which
        # sf the gate happened to run at. Falls back to the gate's sf_dir
        # only if the pinned dataset is absent.
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import scale_audit  # noqa: PLC0415 — same tools/ dir

        audit_out = os.path.join(_REPO_ROOT, "SCALE_AUDIT.json")
        audit_sf = "/root/testdata/sf0.001"
        if not os.path.isdir(audit_sf):
            audit_sf = sf_dir
        rc = scale_audit.main_with(spark, audit_sf, audit_out)
        if rc != 0:
            failures.append("__scale_audit__")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
