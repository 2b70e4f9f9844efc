"""The registry's per-scale-factor oracle variants are built on request:
importing the registry loads none of their fixture modules, and each
variant builds the same SQL it was authored as."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# sha256 of each sf0.1 variant's SQL as authored (when the fixture module
# was still imported eagerly at registry import)
_SF0_1_SQL_SHA256 = {
    "dedup_minhash_lsh_fast": "9d760afd1503410dd12f4dc8b9b7e3015a516efab7d52092c59cefa341079dba",
    "bpe_tokenize_documents": "d1b57ab36d4bf556ea4cc247877a507f0f9d8ea962c4cab2fc259e7da920b6af",
    "wordpiece_tokenize_documents": "fa8c4f4514739f4c987ad4c7a8f3d7a049a69f9c57c6b61b99c889699cc8d7fe",
    "unigram_vocab_documents": "c52abe75099b737adfe0b8bb0181f9965a6c3084dab9fffb1c403fa288546bfb",
    "unigram_tokenize_documents": "cd700d921dd28ee772136c303c7eb193585b086b4aa2f8d75a6559ecda0604ac",
    "pca_project_embeddings": "a5fd71c78707be16f65620bfe8d07440ee886fc54b4297cf3cbb10b4fcc14d6a",
}


def test_registry_import_loads_no_fixture_module():
    code = (
        "import sys, etl_tools_rs_spark.queries; "
        "print('etl_tools_rs_spark.oracle_fixtures_sf0_1' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=_REPO_ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False"


def test_sf0_1_oracle_variants_build_the_authored_sql():
    from etl_tools_rs_spark.queries import REGISTRY

    with_variants = {n for n, q in REGISTRY.items() if q.oracle_by_sf}
    assert with_variants == set(_SF0_1_SQL_SHA256)
    got = {
        n: hashlib.sha256(REGISTRY[n].oracle_for("0.1").encode()).hexdigest()
        for n in _SF0_1_SQL_SHA256
    }
    assert got == _SF0_1_SQL_SHA256
    assert REGISTRY["bpe_tokenize_documents"].oracle_for("1") is None
    assert REGISTRY["q1_pricing_summary"].oracle_for("0.1") is None
