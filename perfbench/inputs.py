"""Seeded benchmark inputs, written as parquet before Spark starts.

Every value is pure integer arithmetic on (seed, row index, field tag), the
same Weyl-style mixer as ``sat_val_framework_spark.fixtures`` with the seed
made an argument, so one seed always gives byte-identical files and the
expected verdicts stay analytic (``expected_statuses``). The library under
test only ever sees the files.

Two input families:

- ``write_documents``: the FIXTURES.md section 1-3 shape (documents,
  media_catalog, baseline_stats, baseline_kinds) with its injected
  violations: duplicate doc_ids at i % 1000 == 7, dangling media refs at
  i % 500 == 3, NULL span arrays at i % 2000 == 11, and a drifted last
  partition.
- ``write_star``: a small TPC-H-like star schema plus events, documents
  and embeddings with the column names and value domains of the driver's
  test tables, for the ``__spark_entry__`` queries and their DuckDB twins.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MOD = 2_147_483_647  # 2^31 - 1
N_PARTS = 16
DRIFT_PART = N_PARTS - 1
N_MEDIA = 5_000
N_BINS = 32
N_FILES = 8  # >= 2x the task slots, so scans split evenly


def mix(i, j, tag: int, seed: int) -> np.ndarray:
    """fixtures._mix_np with the seed as an argument (int64, < 2^31)."""
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    h = (i * 1_000_003 + j * 7_919 + (tag * 104_729 + (seed % 1_000_003) * 999_983)) % MOD
    return (h * h + h) % MOD


def _fmt(prefix: str, ints: np.ndarray, width: int = 0) -> pa.Array:
    s = pc.cast(pa.array(ints, pa.int64()), pa.string())
    if width:
        s = pc.utf8_lpad(s, width=width, padding="0")
    return pc.binary_join_element_wise(prefix, s, "")


def _scatter(values: pa.Array, where: np.ndarray) -> pa.Array:
    """Full-length array holding ``values`` at the True slots of ``where``
    and NULL elsewhere."""
    idx = pa.array(np.cumsum(where) - 1, mask=~where)
    return pc.take(values, idx)


def _write_split(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


# ---------------------------------------------------------------------------
# documents fixture (FIXTURES.md sections 1-3)
# ---------------------------------------------------------------------------


def _document_arrays(n_docs: int, seed: int):
    i = np.arange(n_docs, dtype=np.int64)
    part = (i % N_PARTS).astype(np.int32)
    drifted = part == DRIFT_PART
    null_spans = i % 2000 == 11
    n_spans = 1 + mix(i, 0, 1, seed) % 12 + np.where(drifted, 4, 0)
    n_spans = np.where(null_spans, 0, n_spans)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_spans, out=offsets[1:])
    doc = np.repeat(i, n_spans)
    j = np.arange(offsets[-1], dtype=np.int64) - np.repeat(offsets[:-1], n_spans)
    kind_h = mix(doc, j, 2, seed)
    is_text = kind_h % 10 < 7
    is_image = ~is_text & (kind_h % 2 == 0)
    return i, part, drifted, null_spans, offsets, doc, j, is_text, is_image


def write_documents(root: str, n_docs: int, seed: int) -> dict[str, str]:
    """Write documents (N_FILES files), media_catalog, baseline_stats and
    baseline_kinds under ``root``; return table name -> path."""
    i, part, drifted, null_spans, offsets, doc, j, is_text, is_image = _document_arrays(
        n_docs, seed
    )
    kind = pc.take(
        pa.array(["text", "image", "audio"]), np.where(is_text, 0, np.where(is_image, 1, 2))
    )
    text_len = np.where(drifted[doc], 120, 20) + mix(doc, j, 4, seed) % 200
    head = pc.binary_join_element_wise(
        _fmt("t-", doc[is_text]), _fmt("", j[is_text]), "-"
    )
    head = pc.binary_join_element_wise(head, pa.scalar("-"), "")
    pad = pc.binary_repeat("x", pa.array(text_len[is_text] - pc.utf8_length(head).to_numpy()))
    text_vals = pc.binary_join_element_wise(head, pad, "")
    dangling = doc % 500 == 3
    media = ~is_text
    ref_vals = pc.if_else(
        pa.array(dangling[media]),
        _fmt("m-missing-", doc[media]),
        _fmt("m-", mix(doc[media], j[media], 3, seed) % N_MEDIA, 6),
    )
    spans = pa.StructArray.from_arrays(
        [
            kind,
            _scatter(text_vals, is_text),
            _scatter(ref_vals, media),
            pa.array(j.astype(np.int32), pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans_col = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), spans, mask=pa.array(null_spans)
    )
    doc_id = _fmt("doc-", np.where(i % 1000 == 7, i - 1, i), 8)
    docs = pa.table({"doc_id": doc_id, "part_id": pa.array(part), "spans": spans_col})
    paths = {name: os.path.join(root, name) for name in
             ("documents", "media_catalog", "baseline_stats", "baseline_kinds")}
    _write_split(docs, paths["documents"], N_FILES)

    m = np.arange(N_MEDIA, dtype=np.int64)
    catalog = pa.table({
        "media_ref": _fmt("m-", m, 6),
        "media_type": pa.array(np.where(m % 2 == 0, "image", "audio")),
        "size_bytes": pa.array(1000 + mix(m, 0, 5, seed) % 100_000),
    })
    _write_split(catalog, paths["media_catalog"], 1)

    # analytic reference histograms of the clean distributions: n_spans
    # uniform on 1..12 (unit bins), text_len uniform on [20, 220) (width 10)
    b = np.arange(N_BINS, dtype=np.float64)
    baseline = pa.table({
        "col_name": ["n_spans"] * N_BINS + ["text_len"] * N_BINS,
        "bin_id": pa.array(np.concatenate([b, b]).astype(np.int32)),
        "bin_lo": np.concatenate([b, b * 10]),
        "bin_hi": np.concatenate([b + 1, b * 10 + 10]),
        "ref_frac": np.concatenate([
            np.where((b >= 1) & (b <= 12), 1 / 12, 0.0),
            np.where((b * 10 >= 20) & (b * 10 + 10 <= 220), 10 / 200, 0.0),
        ]),
    })
    _write_split(baseline, paths["baseline_stats"], 1)
    kinds = pa.table({
        "col_name": ["kind"] * 3,
        "value": ["text", "image", "audio"],
        "ref_frac": [0.7, 0.1, 0.2],
    })
    _write_split(kinds, paths["baseline_kinds"], 1)
    return paths


def expected_statuses(n_docs: int, seed: int) -> dict[tuple[str, int], str]:
    """(constraint_id, part_id) -> PASS/FAIL for DEFAULT_SUITE, derived from
    the injection rules alone (FIXTURES.md section 1)."""
    i, part, _drifted, null_spans, offsets, doc, _j, is_text, _img = _document_arrays(
        n_docs, seed
    )
    null_parts = set(part[null_spans].tolist())
    dup = i[i % 1000 == 7]
    dup_parts = set((dup % N_PARTS).tolist()) | set(((dup - 1) % N_PARTS).tolist())
    has_media = np.zeros(n_docs, dtype=bool)
    has_media[doc[~is_text]] = True
    ref_parts = set(part[(i % 500 == 3) & has_media].tolist())
    fails = {
        "schema_assert": null_parts,
        "stats:n_spans": null_parts,
        "unique:doc_id": dup_parts,
        "fd:doc_id->part_id": dup_parts,
        "ref:media_ref": ref_parts,
        "drift_ks:n_spans": {DRIFT_PART},
        "drift_psi:n_spans": {DRIFT_PART},
        "drift_ks:text_len": {DRIFT_PART},
        "drift_psi:text_len": {DRIFT_PART},
        "quantile:n_spans": {DRIFT_PART},
        "profile:n_spans": set(),
        "drift_categorical:kind": set(),
        "span_grammar:spans": set(),
    }
    return {
        (cid, p): "FAIL" if p in bad else "PASS"
        for cid, bad in fails.items()
        for p in range(N_PARTS)
    }


# ---------------------------------------------------------------------------
# driver test tables (the subset the operator_mix queries read)
# ---------------------------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort "
    "window order data column join small customer query big stream group filter vector"
).split()


def _ts(days_from: str, offsets_s: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + offsets_s.astype("timedelta64[s]").astype("timedelta64[us]"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 80, n)
    words = rng.integers(0, len(_WORDS), int(lens.sum()))
    out, k = [], 0
    for ln in lens:
        out.append(" ".join(_WORDS[w] for w in words[k:k + ln]))
        k += ln
    return out


def write_star(root: str, seed: int) -> str:
    """Write lineitem, part, events, documents and embeddings parquet files
    (one file each, ``<root>/<table>.parquet``) sized like the driver's
    sf0.005 tables; return ``root``."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    n_part, n_orders, n_li = 1000, 7500, 30000
    k = np.arange(n_part, dtype=np.int64)
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "new", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"])
    put("part", {
        "p_partkey": k,
        "p_name": pa.array(
            np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                        noun[rng.integers(0, 8, n_part)]).tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
                           [rng.integers(0, 6, n_part)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (k % 1000) / 10, 2),
    })

    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, 50, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist()),
        "l_shipdate": _ts("1995-01-01", rng.integers(0, 2500, n_li) * 86_400),
    })

    n_ev = 5000
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", np.cumsum(rng.integers(1, 500, n_ev))),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": pa.array(np.array(["signup", "error", "click", "view", "purchase"])
                               [rng.integers(0, 5, n_ev)].tolist()),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]),
    })

    # 1 in 10 docs repeats an earlier doc's text and 1 in 10 repeats it with
    # its last word dropped, so the dedup kernels find exact and near pairs
    n_doc = 250
    texts = _texts(rng, n_doc)
    for d in range(10, n_doc, 10):
        texts[d] = texts[d - 7]
        texts[d + 1] = texts[d - 3].rsplit(" ", 1)[0] if d + 1 < n_doc else texts[d + 1]
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "en", "zh", "es", "de", "fr"])
                         [rng.integers(0, 6, n_doc)].tolist()),
        "source": pa.array([f"src{s}" for s in np.arange(n_doc) % 20]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_emb, dim = 250, 64
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return root
