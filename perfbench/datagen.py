"""Seeded input generators for the benchmark workloads.

Every generator is vectorised numpy/pyarrow (a pure-Python row loop is
an order of magnitude slower at these sizes), deterministic in its
seed, and writes into ``<cache>/<kind>-s<seed>-n<size>/``. A finished
directory carries ``manifest.json``: what the generator planted, which
the workload checks read back. The manifest is written last, so a
directory without one is an interrupted build and is regenerated.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

MANIFEST = "manifest.json"
# input sets kept per kind; a sweep over many seeds would otherwise grow
# the cache without limit
KEEP_PER_KIND = 12


def _cached(cache_dir: str, kind: str, seed: int, size: int, build) -> tuple[str, dict]:
    out = os.path.join(cache_dir, f"{kind}-s{seed}-n{size}")
    mf_path = os.path.join(out, MANIFEST)
    if os.path.exists(mf_path):
        with open(mf_path) as fh:
            return out, json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    manifest = build(np.random.default_rng([seed, size, sum(map(ord, kind))]), out, size)
    manifest.update({"kind": kind, "seed": seed, "size": size})
    with open(mf_path + ".tmp", "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(mf_path + ".tmp", mf_path)
    for stale in sorted(glob.glob(os.path.join(cache_dir, f"{kind}-s*")), key=os.path.getmtime)[:-KEEP_PER_KIND]:
        shutil.rmtree(stale, ignore_errors=True)
    return out, manifest


def _ids(prefix: str, nums: np.ndarray, width: int) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(nums.astype(str), width))


def _iso(days: np.ndarray, epoch: str) -> np.ndarray:
    return np.datetime_as_string(np.datetime64(epoch) + days.astype("timedelta64[D]"), unit="D")


def _with_nulls(values: np.ndarray, null_mask: np.ndarray) -> pa.Array:
    return pa.array(values.astype(object), type=pa.string(), mask=null_mask)


def _write_csv(path: str, cols: dict[str, pa.Array]) -> None:
    pacsv.write_csv(pa.table(cols), path)


# --------------------------------------------------------------------------
# medallion: the reference's dirty CSVs at FIXTURES.md section A defect rates
# --------------------------------------------------------------------------
def _build_medallion(rng: np.random.Generator, out: str, n_cust: int) -> dict:
    # customers: ~6% duplicated ids whose newer row wins; ~3.5% null segment
    cust_n = np.arange(n_cust)
    cust_ids = _ids("C", cust_n, 7)
    created = rng.integers(0, 300, n_cust)
    segment = rng.choice(np.array(["A", "B", "C"]), n_cust)
    seg_null = rng.random(n_cust) < 0.035
    dup_c = rng.choice(n_cust, int(n_cust * 0.06), replace=False)
    c_id = np.concatenate([cust_ids, cust_ids[dup_c]])
    c_name = np.concatenate(
        [np.char.add("Cliente ", cust_n.astype(str)),
         np.char.add(np.char.add("Cliente ", dup_c.astype(str)), " (Atualizado)")]
    )
    c_created = np.concatenate([created, created[dup_c] + rng.integers(1, 60, dup_c.size)])
    c_seg_null = np.concatenate([seg_null, np.zeros(dup_c.size, bool)])
    perm = rng.permutation(c_id.size)
    _write_csv(os.path.join(out, "customers.csv"), {
        "customer_id": pa.array(c_id[perm]),
        "customer_name": pa.array(c_name[perm]),
        "segment": _with_nulls(np.concatenate([segment, segment[dup_c]])[perm], c_seg_null[perm]),
        "state": pa.array(rng.choice(np.array(["SP", "BA", "MG", "GO", "RJ", "PR"]), c_id.size)),
        "created_at": pa.array(_iso(c_created[perm], "2024-01-01")),
    })

    # work_orders: ~4.8 per customer; dup ids (newer updated_at), null and
    # orphan customer_id, null order_date (dropped in silver)
    n_wo = int(n_cust * 4.8)
    wo_n = np.arange(n_wo)
    wo_ids = _ids("WO", wo_n, 8)
    order_day = rng.integers(0, 365, n_wo)
    updated = order_day + rng.integers(0, 30, n_wo)
    wo_cust = cust_ids[rng.integers(0, n_cust, n_wo)].astype(object)
    u = rng.random(n_wo)
    cust_null = u < 0.007
    orphan = (u >= 0.007) & (u < 0.027)
    wo_cust[orphan] = _ids("C9", rng.integers(0, 10_000, int(orphan.sum())), 6)
    date_null = rng.random(n_wo) < 0.01
    dup_w = rng.choice(np.flatnonzero(~date_null), int(n_wo * 0.024), replace=False)
    status = rng.choice(np.array(["OPEN", "IN_PROGRESS", "CLOSED", "CANCELLED"]), n_wo, p=[0.16, 0.21, 0.52, 0.11])
    hours = rng.integers(0, 2000, n_wo)
    w_idx = np.concatenate([wo_n, dup_w])
    w_updated = np.concatenate([updated, updated[dup_w] + rng.integers(1, 20, dup_w.size)])
    perm = rng.permutation(w_idx.size)
    w_idx, w_updated = w_idx[perm], w_updated[perm]
    _write_csv(os.path.join(out, "work_orders.csv"), {
        "work_order_id": pa.array(wo_ids[w_idx]),
        "customer_id": _with_nulls(wo_cust[w_idx], cust_null[w_idx]),
        "order_date": _with_nulls(_iso(order_day[w_idx], "2025-01-01"), date_null[w_idx]),
        "status": pa.array(status[w_idx]),
        "labor_hours": pa.array(np.char.mod("%.2f", hours[w_idx] / 100)),
        "labor_cost": pa.array(np.char.mod("%.2f", hours[w_idx] * 0.85)),
        "updated_at": pa.array(_iso(w_updated, "2025-01-01")),
    })
    kept_wo = ~date_null  # silver drops null order_date; dups keep a non-null row

    # parts_sales: ~11 per customer; dup ids, null and orphan work_order_id,
    # null unit_price (coalesced to 0), untrusted source total_price
    n_ps = int(n_cust * 11.3)
    ps_n = np.arange(n_ps)
    ps_wo_n = rng.integers(0, n_wo, n_ps)
    ps_wo = wo_ids[ps_wo_n].astype(object)
    u = rng.random(n_ps)
    wo_null = u < 0.004
    wo_orphan = (u >= 0.004) & (u < 0.014)
    ps_wo[wo_orphan] = _ids("WO99", rng.integers(0, 10_000, int(wo_orphan.sum())), 4)
    qty = rng.integers(1, 6, n_ps)
    price_cents = rng.integers(500, 50_000, n_ps)
    price_null = rng.random(n_ps) < 0.012
    sale_day = order_day[ps_wo_n] + rng.integers(0, 20, n_ps)
    ps_updated = sale_day + rng.integers(0, 10, n_ps)
    dup_p = rng.choice(n_ps, int(n_ps * 0.012), replace=False)
    # a duplicate's newer row carries the winning values
    dup_qty = rng.integers(1, 6, dup_p.size)
    dup_price = rng.integers(500, 50_000, dup_p.size)
    p_idx = np.concatenate([ps_n, dup_p])
    p_qty = np.concatenate([qty, dup_qty])
    p_price = np.concatenate([price_cents, dup_price])
    p_price_null = np.concatenate([price_null, np.zeros(dup_p.size, bool)])
    p_updated = np.concatenate([ps_updated, ps_updated[dup_p] + rng.integers(1, 10, dup_p.size)])
    perm = rng.permutation(p_idx.size)
    _write_csv(os.path.join(out, "parts_sales.csv"), {
        "sale_id": pa.array(_ids("PS", p_idx[perm], 9)),
        "work_order_id": _with_nulls(ps_wo[p_idx[perm]], wo_null[p_idx[perm]]),
        "sku": pa.array(_ids("P", rng.integers(0, 99_999, p_idx.size), 5)),
        "quantity": pa.array(p_qty[perm].astype(str)),
        "unit_price": _with_nulls(np.char.mod("%.2f", p_price[perm] / 100), p_price_null[perm]),
        "sale_date": pa.array(_iso(sale_day[p_idx[perm]], "2025-01-01")),
        "updated_at": pa.array(_iso(p_updated[perm], "2025-01-01")),
        "total_price": pa.array(np.char.mod("%.2f", rng.integers(0, 10**6, p_idx.size) / 100)),
    })

    # expected gold, from the winning (latest) row of every id
    win_qty, win_price, win_null = qty.copy(), price_cents.copy(), price_null.copy()
    win_qty[dup_p], win_price[dup_p], win_null[dup_p] = dup_qty, dup_price, False
    ps_kept = ~wo_null & ~wo_orphan & kept_wo[ps_wo_n]
    total_cents = int((win_qty * np.where(win_null, 0, win_price))[ps_kept].sum())
    dates = np.union1d(order_day[kept_wo], sale_day[ps_kept])
    return {
        "rows_in": {"customers": int(c_id.size), "work_orders": int(w_idx.size), "parts_sales": int(p_idx.size)},
        "planted": {
            "customer_dup_ids": int(dup_c.size), "customer_null_segment": int(seg_null.sum()),
            "wo_dup_ids": int(dup_w.size), "wo_null_customer": int(cust_null.sum()),
            "wo_orphan_customer": int(orphan.sum()), "wo_null_order_date": int(date_null.sum()),
            "ps_dup_ids": int(dup_p.size), "ps_null_wo": int(wo_null.sum()),
            "ps_orphan_wo": int(wo_orphan.sum()), "ps_null_unit_price": int(price_null.sum()),
        },
        "expected": {
            "dim_customer": n_cust + 1,
            "fact_work_order": int(kept_wo.sum()),
            "fact_parts_sales": int(ps_kept.sum()),
            "dim_date": int(dates.size),
            "sum_total_price": f"{total_cents // 100}.{total_cents % 100:02d}",
        },
    }


def medallion(cache_dir: str, seed: int, n_customers: int) -> tuple[str, dict]:
    return _cached(cache_dir, "medallion", seed, n_customers, _build_medallion)


# --------------------------------------------------------------------------
# vector queries against the star schema's embeddings table: noisy copies
# of seeded corpus vectors, with their exact top-k by brute force
# --------------------------------------------------------------------------
QUERY_ID_BASE = 10_000_000
QUERY_NOISE = 0.3  # expected norm of the noise added to a unit corpus vector
TOPK = 5


def load_vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 matrix) of an (id, list<float>) parquet table, with
    the values Spark reads back from it."""
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    flat = t.column("embedding").combine_chunks().flatten().to_numpy().astype(np.float64)
    return t.column("vec_id").to_numpy(), flat.reshape(t.num_rows, -1)


def _build_vector_queries(emb_path: str):
    def build(rng: np.random.Generator, out: str, n: int) -> dict:
        ids, X = load_vectors(emb_path)
        src = rng.choice(len(ids), n, replace=False)
        Q = X[src] + rng.standard_normal((n, X.shape[1])) * (QUERY_NOISE / np.sqrt(X.shape[1]))
        Q = (Q / np.linalg.norm(Q, axis=1, keepdims=True)).astype(np.float32)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64) + QUERY_ID_BASE),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(Q.ravel()), Q.shape[1]).cast(pa.list_(pa.float32())),
        }), os.path.join(out, "queries.parquet"))
        d = ((Q.astype(np.float64)[:, None, :] - X[None, :, :]) ** 2).sum(-1)
        top = np.argsort(d, axis=1, kind="stable")[:, :TOPK]
        return {"queries": n, "source_vec_ids": ids[src].tolist(),
                "top_ids": {str(QUERY_ID_BASE + q): ids[top[q]].tolist() for q in range(n)}}

    return build


def vector_queries(cache_dir: str, seed: int, n: int, emb_path: str) -> tuple[str, dict]:
    return _cached(cache_dir, "vecq", seed, n, _build_vector_queries(emb_path))


# --------------------------------------------------------------------------
# corpus: a base corpus for the persisted indexes plus a micro-batch stream
# mixing gate failures, exact duplicates, word-edited near-duplicates and
# novel documents
# --------------------------------------------------------------------------
# a batch is one parquet row group, so a batch's scan skips the rest of the
# stream; the stream is far longer than a run consumes
STREAM_BATCH = 100
STREAM_BATCHES = 400
STREAM_MIX = {"gate_fail": 0.10, "exact_dup": 0.15, "near_dup": 0.15, "novel": 0.60}
STOPWORDS = np.array(["the", "be", "to", "of", "and", "that", "have", "with"])


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 10, n)
    chars = rng.choice(letters, (n, 9))
    words = np.array(["".join(row[:k]) for row, k in zip(chars, lens)])
    return np.unique(words)


def _docs(rng: np.random.Generator, vocab: np.ndarray, n: int, lo: int, hi: int) -> list[list[str]]:
    lens = rng.integers(lo, hi, n)
    flat = vocab[rng.integers(0, vocab.size, int(lens.sum()))].astype(object)
    # every tenth word is a stopword, so the stopword gate passes
    flat[::10] = STOPWORDS[rng.integers(0, STOPWORDS.size, flat[::10].size)]
    cuts = np.cumsum(lens)[:-1]
    return [list(d) for d in np.split(flat, cuts)]


def _build_corpus(rng: np.random.Generator, out: str, n_base: int) -> dict:
    vocab = _vocab(rng, 20_000)
    base = _docs(rng, vocab, n_base, 60, 160)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_base, dtype=np.int64)),
        "text": pa.array([" ".join(d) for d in base]),
    }), os.path.join(out, "base.parquet"))

    n_stream = STREAM_BATCHES * STREAM_BATCH
    kinds = rng.choice(np.array(list(STREAM_MIX)), n_stream, p=list(STREAM_MIX.values()))
    novel = iter(_docs(rng, vocab, int((kinds == "novel").sum()), 60, 160))
    short = iter(_docs(rng, vocab, int((kinds == "gate_fail").sum()), 5, 15))
    texts, source = [], np.full(n_stream, -1, np.int64)
    for i, kind in enumerate(kinds):
        if kind == "novel":
            texts.append(" ".join(next(novel)))
        elif kind == "gate_fail":
            texts.append(" ".join(next(short)))
        else:
            j = int(rng.integers(0, n_base))
            source[i] = j
            words = list(base[j])
            if kind == "exact_dup":
                # content_hash normalises case and whitespace
                texts.append("  ".join(words).upper() if rng.random() < 0.5 else " ".join(words))
            else:
                for p in rng.choice(len(words), max(1, len(words) // 50), replace=False):
                    words[p] = str(vocab[rng.integers(0, vocab.size)])
                texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_stream, dtype=np.int64) + 10_000_000),
        "text": pa.array(texts),
        "kind": pa.array(kinds),
        "source_doc": pa.array(source),
    }), os.path.join(out, "stream.parquet"), row_group_size=STREAM_BATCH)
    counts = {k: int((kinds == k).sum()) for k in STREAM_MIX}
    return {"base_docs": n_base, "stream_docs": n_stream, "stream_counts": counts,
            "stream_shares": {k: round(v / n_stream, 4) for k, v in counts.items()}}


def corpus(cache_dir: str, seed: int, n_base: int) -> tuple[str, dict]:
    return _cached(cache_dir, "corpus", seed, n_base, _build_corpus)
