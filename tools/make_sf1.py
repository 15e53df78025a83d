#!/usr/bin/env python3
"""Synthesize an sf1 calibration fixture (10x sf0.1) for SCALE-FACTOR
benchmarking only — never for correctness (the DuckDB oracle gate runs on
the driver-generated sf0.01 fixtures exclusively).

Usage: python3 tools/make_sf1.py [outDir=/tmp/sf1] [factor=10] [zipf [s=1.35]]

With the optional `zipf` flag the output is the SKEW-STRESS variant
(r11 verdict #4): only orders + lineitem are written, and every replica
lineitem row draws its l_orderkey from a seeded Zipf (exponent s, default
1.35 -> the head key collects ~1/zeta(1.35) ~ 31% of every replica block)
over the full replicated key domain instead of the stride copy — the
pathological hot-key shape that makes one reduce partition a straggler in
a shuffled join. The original block is kept verbatim so every sampled key
still resolves (left-join semantics hold either way). PERF.md "The skew
story, finally under measurement" (Round 12) records AQE's skew-join split
on the plain join and the salted / skew-split joins staying flat on it.

Design: each table is the original plus (factor-1) replica blocks with every
key domain offset by a per-domain stride (max key + 1), so FK structure,
per-key cardinalities, and absent-key (violation) sets replicate exactly.
Content columns:
  - documents.text: replica docs are NEW text sampled from a Zipf-weighted
    >=5k-word vocabulary with a seeded RNG (same length distribution, same
    lang/source mix) — replicating the text verbatim would turn every doc
    into a 10-way exact-dup cluster and quadratically inflate every dedup
    candidate set, which a real 10x corpus does not do. The vocabulary's
    high-frequency head is the ORIGINAL corpus vocabulary (so common-word
    shingles still collide across blocks at stopword-like rates) and the
    tail is 5k synthetic words on a Zipf rank-frequency curve (s=1.07) —
    the r6 verdict found the old 31-word closed vocabulary made replicas
    far more shingle-similar than real text, inflating exact-dedup
    candidate growth ~quadratically.
  - embeddings.embedding: seeded Gaussian perturbation of the source vector
    (sigma 0.15), keeping the cluster structure IVF/PQ training costs
    depend on while making replicas distinct.
  - timestamps are kept verbatim: same window, 10x volume per day — the
    "bigger deployment, same period" shape.
Dev-only tool — NOT part of the shipped Scala library.
"""
import sys
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"


def main(out_dir="/tmp/sf1", factor=10, skew=False, skew_s=1.35):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    rep = f"generate_series(1, {factor - 1})"

    def t(name):
        return f"read_parquet('{SRC}/{name}.parquet')"

    def stride(table, col):
        return con.sql(f"SELECT MAX({col}) + 1 FROM {t(table)}").fetchone()[0]

    def write(name, sql):
        con.sql(f"COPY ({sql}) TO '{out}/{name}.parquet' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE 262144)")
        n = con.sql(f"SELECT COUNT(*) FROM read_parquet('{out}/{name}.parquet')").fetchone()[0]
        print(f"{name}: {n} rows")

    # dimension-free copies
    for name in ("nation", "region"):
        write(name, f"SELECT * FROM {t(name)}")

    ck = stride("customer", "c_custkey")
    pk = stride("part", "p_partkey")
    sk = stride("supplier", "s_suppkey")
    ok = stride("orders", "o_orderkey")
    ek = stride("events", "event_id")
    dk = stride("documents", "doc_id")
    vk = stride("embeddings", "vec_id")

    write("customer", f"""
        SELECT * FROM {t('customer')}
        UNION ALL
        SELECT c_custkey + i*{ck}, c_name || '_r' || i, c_nationkey,
               c_acctbal, c_mktsegment
        FROM {t('customer')}, {rep} g(i)""")
    write("part", f"""
        SELECT * FROM {t('part')}
        UNION ALL
        SELECT p_partkey + i*{pk}, p_name || '_r' || i, p_brand, p_type,
               p_size, p_retailprice
        FROM {t('part')}, {rep} g(i)""")
    write("supplier", f"""
        SELECT * FROM {t('supplier')}
        UNION ALL
        SELECT s_suppkey + i*{sk}, s_name || '_r' || i, s_nationkey, s_acctbal
        FROM {t('supplier')}, {rep} g(i)""")
    write("orders", f"""
        SELECT * FROM {t('orders')}
        UNION ALL
        SELECT o_orderkey + i*{ok}, o_custkey + i*{ck}, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM {t('orders')}, {rep} g(i)""")
    if skew:
        # Zipf-keyed lineitem replicas: ranks over the FULL replicated order
        # domain, p(r) ~ 1/r^s. rank->key via a modular multiply so the hot
        # keys are scattered across the id space (a hot key at id 0 would
        # sit in the same parquet row group as the coldest originals and
        # confound scan-side effects with join-side skew).
        li = con.sql(f"SELECT * FROM {t('lineitem')} ORDER BY l_orderkey, "
                     "l_linenumber, l_partkey").arrow()
        n_keys = ok * factor
        ranks = np.arange(1, n_keys + 1, dtype=np.float64)
        p = 1.0 / np.power(ranks, skew_s)
        p /= p.sum()
        key_of_rank = ((np.arange(n_keys, dtype=np.int64) + 1) * 2654435761) % n_keys
        writer = pq.ParquetWriter(f"{out}/lineitem.parquet", li.schema)
        writer.write_table(li, row_group_size=262144)
        n_rows = li.num_rows
        cols = {c: li.column(c).to_numpy(zero_copy_only=False)
                for c in li.schema.names}
        for i in range(1, factor):
            rng = np.random.default_rng(4321 + i)
            hot = key_of_rank[rng.choice(n_keys, n_rows, p=p)]
            rep_cols = dict(cols)
            rep_cols["l_orderkey"] = hot
            rep_cols["l_partkey"] = cols["l_partkey"] + i * pk
            rep_cols["l_suppkey"] = cols["l_suppkey"] + i * sk
            writer.write_table(
                pa.table({c: pa.array(rep_cols[c]).cast(li.schema.field(c).type)
                          for c in li.schema.names}),
                row_group_size=262144)
        writer.close()
        total = con.sql(f"SELECT COUNT(*) FROM read_parquet('{out}/lineitem.parquet')").fetchone()[0]
        top = con.sql(
            f"SELECT l_orderkey, COUNT(*) c FROM read_parquet('{out}/lineitem.parquet') "
            "GROUP BY 1 ORDER BY c DESC LIMIT 3").fetchall()
        print(f"lineitem: {total} rows (skewed; top keys {top})")
        print("skew variant: orders+lineitem only — done")
        return
    write("lineitem", f"""
        SELECT * FROM {t('lineitem')}
        UNION ALL
        SELECT l_orderkey + i*{ok}, l_partkey + i*{pk}, l_suppkey + i*{sk},
               l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
               l_returnflag, l_linestatus, l_shipdate
        FROM {t('lineitem')}, {rep} g(i)""")
    # events.user_id shares the customer key domain -> same stride, so the
    # replicated violation set (ids absent from customer) stays violating.
    write("events", f"""
        SELECT * FROM {t('events')}
        UNION ALL
        SELECT event_id + i*{ek}, ts, user_id + i*{ck}, event_type, value, props
        FROM {t('events')}, {rep} g(i)""")

    # documents: synthetic replica text over a Zipf-weighted wide vocabulary.
    # Head = the original corpus words (kept stopword-common across blocks);
    # tail = 5000 deterministic syllable words. p(rank) ~ 1/(rank+2.7)^1.07.
    docs = con.sql(f"SELECT doc_id, text, lang, source FROM {t('documents')} ORDER BY doc_id").fetchall()
    head = sorted({w for _, text, _, _ in docs for w in text.split(" ") if w})
    syll = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]  # 90 syllables
    tail = []
    k = 0
    while len(tail) < 5000:
        w = syll[k % 90] + syll[(k // 90) % 90] + syll[(k // 8100) % 90]
        if w not in head:
            tail.append(w)
        k += 1
    vocab = np.array(head + tail)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / np.power(ranks + 2.7, 1.07)
    p /= p.sum()
    lengths = np.array([max(1, len(text.split(" "))) for _, text, _, _ in docs])
    doc_ids = np.array([d for d, _, _, _ in docs], dtype=np.int64)
    langs = [l for _, _, l, _ in docs]
    sources = [s for _, _, _, s in docs]
    writer = None
    def emit(tbl):
        nonlocal writer
        if writer is None:
            writer = pq.ParquetWriter(f"{out}/documents.parquet", tbl.schema)
        writer.write_table(tbl)
    emit(pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array([text for _, text, _, _ in docs], pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(text) for _, text, _, _ in docs], pa.int64()),
    }))
    total_words = int(lengths.sum())
    bounds = np.cumsum(lengths)[:-1]
    n_docs = 0
    for i in range(1, factor):
        rng = np.random.default_rng(1234 + i)
        flat = vocab[rng.choice(len(vocab), total_words, p=p)]
        texts = [" ".join(ws) for ws in np.split(flat, bounds)]
        emit(pa.table({
            "doc_id": pa.array(doc_ids + i * dk, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }))
        n_docs += len(texts)
    writer.close()
    print(f"documents: {len(docs) + n_docs} rows (vocab {len(vocab)}, zipf head {len(head)})")

    # embeddings: seeded Gaussian perturbation, cluster structure kept
    emb = con.sql(f"SELECT vec_id, embedding, label FROM {t('embeddings')} ORDER BY vec_id").fetchall()
    base = np.array([e for _, e, _ in emb], dtype=np.float32)
    ids = np.array([v for v, _, _ in emb], dtype=np.int64)
    labels = np.array([l for _, _, l in emb], dtype=np.int32)
    all_ids, all_vecs, all_labels = [ids], [base], [labels]
    for i in range(1, factor):
        rng = np.random.default_rng(5678 + i)
        noise = rng.normal(0.0, 0.15, base.shape).astype(np.float32)
        all_ids.append(ids + i * vk)
        all_vecs.append(base + noise)
        all_labels.append(labels)
    vecs = np.concatenate(all_vecs)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.concatenate(all_ids)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(np.concatenate(all_labels)),
    # row_group_size: a single-row-group file gives Spark exactly ONE
    # task for the whole narrow-encode family (measured r11:
    # sim_sq8_codes 3.76 s wall / 3.6 cpu-s at sf1 = serial); production
    # embedding tables arrive as many files/row groups, so the timing
    # fixture must be splittable too.
    }), f"{out}/embeddings.parquet", row_group_size=2048)
    print(f"embeddings: {len(vecs)} rows")


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    skew = "zipf" in sys.argv[3:]
    extra = [a for a in sys.argv[3:] if a != "zipf"]
    main(out, factor, skew=skew, skew_s=float(extra[0]) if extra else 1.35)
