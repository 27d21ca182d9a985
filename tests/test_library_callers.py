"""Every top-level library function has a caller outside ``tests/``: code
reached only from tests is either wired where the engine needs it or
deleted. Parses the sources with ``ast``; no Spark.

A reference is a name or attribute load anywhere in the repo's program
files outside ``tests/`` and outside the function's own body. Imports are
not references, so a re-export in an ``__init__.py`` does not keep a
function alive, and neither does a mention in a docstring."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
LIB = REPO / "sat_val_framework_spark"

# functions kept without a program caller, and why
KEPT = {
    "documents_pandas": "the pandas oracle twin of the fixture the tests check against",
    "read_violations": "the reader of the violations table run_suite writes",
    "run_summary": "per-run rollup of the checkpoint table (run history, ROADMAP item 4)",
    "diff_runs": "verdict diff of two runs of the checkpoint table (ROADMAP item 4)",
    "cms_merge": "merges count-min sketches built on separate shards",
    "write_audit_publish": "write-audit-publish commit of a snapshot table",
    "compact_snapshot": "snapshot table compaction",
    "expire_snapshots": "snapshot table retention",
    "streaming_schema_assert": "accumulates across epochs, which streaming_suite does not",
    "streaming_stats": "accumulates across epochs, which streaming_suite does not",
    "streaming_dedup": "stateful stream: exact dedup across epochs",
    "streaming_neardup": "stateful stream: near-dup detection across epochs",
    "streaming_sessionize": "stateful stream: event sessions across epochs",
    "gate_documents": "whole-document gating (the reference's None-propagation contract)",
    "write_bucketed_table": "bucketed table writer for shuffle-free joins",
    "append_catalog_table": "catalog table append",
    # public entry points and audit twins whose only non-test mention is in
    # a docstring, which is not a call
    "baseline_stats_df": "the seeded fixture's drift baseline as a Spark frame",
    "homogenise_to": "A8 coercion to the canonical schema (re-assert with schema_assert)",
    "read_iceberg_table": "the production Iceberg read path",
    "snapshots": "lists a snapshot table's history",
    "schema_diff": "schema evolution between two snapshots",
    "validate_increment": "runs the suite over the files one snapshot added",
    "streaming_suite": "the streaming entry point: run_suite per micro-batch",
    "file_monitor": "runs any batch scorer per micro-batch",
    "jaccard_pairs": "exact all-pairs Jaccard, the oracle of the LSH pair-finder",
    "simhash_bits": "64-bit SimHash as a bit string, for callers that need NULL rows",
    "simhash_oversized_chunks": "audit of the buckets a capped simhash_near_dup skips",
    "embedding_oversized_buckets": "audit of the buckets a capped embedding_near_dup_pairs skips",
    "cosine": "cosine similarity of two array columns",
    "quantile_threshold_filter": "the sort-free path of top_fraction_per_group",
}


def _program_files() -> list[Path]:
    return [
        p
        for p in sorted(REPO.rglob("*.py"))
        if not any(part == "tests" or part.startswith(".") for part in p.relative_to(REPO).parts)
    ]


def _library_functions() -> dict[str, Path]:
    out = {}
    for path in sorted(LIB.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[node.name] = path
    return out


def _references() -> set[str]:
    """Names loaded anywhere in the program files, except inside the body
    of a top-level function of the same name (its own definition)."""
    seen: set[str] = set()

    def visit(node: ast.AST, owner: str | None) -> None:
        if isinstance(node, ast.Name) and node.id != owner:
            seen.add(node.id)
        elif isinstance(node, ast.Attribute) and node.attr != owner:
            seen.add(node.attr)
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    for path in _program_files():
        for node in ast.parse(path.read_text()).body:
            owner = node.name if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
            visit(node, owner)
    return seen


def test_every_library_function_has_a_program_caller():
    funcs = _library_functions()
    refs = _references()
    orphans = sorted(
        f"{path.relative_to(REPO)}::{name}"
        for name, path in funcs.items()
        if name not in refs and name not in KEPT
    )
    assert not orphans, f"reached only from tests (wire them in or delete them): {orphans}"


def test_kept_functions_still_exist_and_still_lack_a_caller():
    """A KEPT entry that gained a caller, or whose function is gone, is
    stale: drop it so the list stays the set of real exceptions."""
    funcs = _library_functions()
    refs = _references()
    assert sorted(set(KEPT) - set(funcs)) == []
    assert sorted(n for n in KEPT if n in refs) == []
