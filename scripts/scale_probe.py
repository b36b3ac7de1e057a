"""Scale probe: replicate the sf0.1 corpus N-fold at CONSTANT duplicate
density and time the dedup/graph/embedding family on it.

The per-round bench measures sf0.01 -> sf0.1 scaling ratios; this probe
extends that curve one more decade (a simulated sf1) without touching the
read-only testdata. The replication is designed so the near-dup structure
scales LINEARLY — the property a 100 TB corpus has and a naive
UNION-ALL-N-copies does not:

- documents: copy k shifts doc_id by k * 10,000,000 (clear of the dedup
  family's +1e6 augmentation offset). Copy 0 is byte-identical to the
  base; copies k >= 1 get a deterministic per-document word shuffle
  seeded by (k, md5(text)) — keying on the TEXT, not the doc_id, so two
  byte-identical base documents shuffle identically within a copy and the
  base's NATURAL exact/near-dup groups survive in every copy at constant
  density (r6 ADVICE: a (k, doc_id) seed shuffled identical texts apart,
  quietly thinning natural dup density to ~1/N of the base). Cross-copy
  the shuffles still differ (k is in the seed), so cross-copy Jaccard ~ 0.
  Naive identical copies would instead put every doc in a 10-clique —
  candidate pairs would grow ~N^2 and the probe would measure a corpus
  100x denser in duplicates than the base, not a 10x bigger corpus.
- embeddings: copy k shifts vec_id by the same offset and applies one
  random permutation of the 64 dimensions (seeded by k, identity for
  copy 0). A coordinate permutation is an isometry: norms and all
  WITHIN-copy cosines/distances are bit-preserved (the probe corpus has
  exactly N times the base's semantic-dup structure), while cross-copy
  cosines scatter to ~0.
- all other tables are symlinked from the base directory unchanged.

Usage:
    python scripts/scale_probe.py --copies 10 [--base /root/testdata/sf0.1]
        [--out /tmp/scale_probe] [--reps 3]
        [--queries name1,name2,...]   # subset of PROBE_QUERIES (x100 runs)

Prints one JSON line: {"copies": N, "queries": {name: {"sec": s, "rows": r}}}.
Run with --copies 1 first for the like-for-like baseline (same generated
layout, same timing protocol), then ratio = sec(N) / sec(1).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: Clear of the +1_000_000 augmentation offset for any base with ids < 9e6.
COPY_OFFSET = 10_000_000

#: Dedup / graph / embedding queries whose cost is corpus-size-driven.
PROBE_QUERIES = (
    "exact_dedup_groups",
    "minhash_lsh_neardups",
    "neardup_components",
    "neardup_components_star",
    "pagerank_neardup_graph",
    "simhash_signatures",
    "embedding_neardup_pairs",
    "semantic_dedup_census",
    "similarity_topk_lsh",
    "hard_negative_mining",
    "dsir_importance_weights",
    "decontamination_overlap",
    "contamination_closure",
    "neardup_keep_best",
    "neardup_triangle_census",
    "doc_surprisal_bits",
    "token_budget_sample",
    "corpus_shuffle",
    "bm25_search_topk",
    # r10: the GK-prefiltered quota selection (sorted volume ~2% of corpus)
    "eval_split_members",
    # r10: corpus-overlap family (token/bigram-keyed aggregations whose
    # pair fan-out is bounded by the 20-source set, never the vocabulary)
    # and the composed eval-decontamination audit riding the LSH pipeline
    "bow_dedup_groups",
    "weighted_jaccard_sources",
    "token_gini_by_source",
    "source_bigram_cosine",
    "doc_chunk_plan",
    "eval_train_contamination",
    # r10: capped prefix-bucket containment dedup (LSH-cap physical shape)
    "prefix_containment_dups",
    # r10: threshold-0 LSH operating curve and the writer-layout audit
    "minhash_threshold_sweep",
    "shard_balance_audit",
    # r10 capstone: four detectors vs four plant families, real pipelines
    "dedup_recall_matrix",
    # r10: doc-level UniMax materialization (per-source running-sum window)
    "repetition_plan",
    # r11: span-level substring dedup, line-level boilerplate dedup and
    # its cleaning plan — all linear explode+hash-agg spines, no pair join
    "substring_dup_census",
    "top_repeated_spans",
    "repeated_line_census",
    "top_repeated_lines",
    "line_dedup_cleaning_plan",
    # r11: dedup x selection composition and the PII redaction plan —
    # one-scan shapes (content-hash window / codegen regex fold)
    "post_dedup_mixture_drift",
    "pii_scrub_plan",
    "encoding_integrity_census",
    "cleaning_funnel_report",
    "vocab_growth_curve",
    # r11: routine-cadence slices of the two heavy audits — probed so
    # the sampled-vs-full ratio is on record at the scale where pair
    # work (not fixed overhead) dominates
    "minhash_threshold_sweep_sampled",
    "dedup_recall_matrix_sampled",
)


def _shuffled_words(text: str, rng: random.Random) -> str:
    words = text.split()
    rng.shuffle(words)
    return " ".join(words)


def build_documents(base_dir: str, out_dir: str, copies: int) -> int:
    import hashlib

    t = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    doc_ids = t.column("doc_id").to_pylist()
    texts = t.column("text").to_pylist()
    langs = t.column("lang").to_pylist()
    sources = t.column("source").to_pylist()
    # per-TEXT hash (computed once, reused across copies): identical base
    # texts share a hash, hence a shuffle seed within each copy — natural
    # dup groups replicate at constant density instead of dissolving
    text_seed = [
        None
        if txt is None
        else int.from_bytes(hashlib.md5(txt.encode()).digest()[:8], "big")
        for txt in texts
    ]

    out_id: list[int] = []
    out_text: list[str] = []
    out_lang: list[str] = []
    out_source: list[str] = []
    for k in range(copies):
        for d, txt, lg, src, ts in zip(
            doc_ids, texts, langs, sources, text_seed
        ):
            out_id.append(d + k * COPY_OFFSET)
            if k == 0 or txt is None:
                new_txt = txt
            else:
                new_txt = _shuffled_words(txt, random.Random((k << 64) ^ ts))
            out_text.append(new_txt)
            out_lang.append(lg)
            out_source.append(src)
    out = pa.table(
        {
            "doc_id": pa.array(out_id, pa.int64()),
            "text": pa.array(out_text, pa.string()),
            "lang": pa.array(out_lang, pa.string()),
            "source": pa.array(out_source, pa.string()),
            "n_chars": pa.array(
                [len(x) if x is not None else None for x in out_text], pa.int64()
            ),
        }
    )
    pq.write_table(out, os.path.join(out_dir, "documents.parquet"))
    return out.num_rows


def build_embeddings(base_dir: str, out_dir: str, copies: int) -> int:
    t = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    vec_ids = t.column("vec_id").to_pylist()
    embs = t.column("embedding").to_pylist()
    labels = t.column("label").to_pylist()
    dim = len(embs[0])

    out_id: list[int] = []
    out_emb: list[list[float]] = []
    out_label: list[int] = []
    for k in range(copies):
        perm = list(range(dim))
        if k > 0:
            random.Random(k).shuffle(perm)
        for v, e, lb in zip(vec_ids, embs, labels):
            out_id.append(v + k * COPY_OFFSET)
            out_emb.append([e[p] for p in perm] if k > 0 else e)
            out_label.append(lb)
    out = pa.table(
        {
            "vec_id": pa.array(out_id, pa.int64()),
            "embedding": pa.array(out_emb, pa.list_(pa.float32())),
            "label": pa.array(out_label, pa.int32()),
        }
    )
    pq.write_table(out, os.path.join(out_dir, "embeddings.parquet"))
    return out.num_rows


def build_events(base_dir: str, out_dir: str, copies: int) -> int:
    """events x N as TRAFFIC growth: copy k shifts event_id and user_id
    by k * COPY_OFFSET and keeps ts/type/value/props — N x the users over
    the SAME time range, so per-window event density grows N x while
    per-user session structure is preserved (the realistic way an event
    stream scales; stretching time instead would keep density constant
    and hide any per-window blowup). The parquet is rewritten with the
    source schema so ts keeps its TIMESTAMP(NANOS) physical type (the
    reader config under test expects it)."""
    t = pq.read_table(os.path.join(base_dir, "events.parquet"))
    cols = {name: t.column(name) for name in t.schema.names}
    import pyarrow.compute as pc

    parts = []
    for k in range(copies):
        off = pa.scalar(k * COPY_OFFSET, pa.int64())
        parts.append(
            pa.table(
                {
                    "event_id": pc.add(cols["event_id"], off),
                    "ts": cols["ts"],
                    "user_id": pc.add(cols["user_id"], off),
                    "event_type": cols["event_type"],
                    "value": cols["value"],
                    "props": cols["props"],
                },
                schema=t.schema,
            )
        )
    out = pa.concat_tables(parts)
    pq.write_table(out, os.path.join(out_dir, "events.parquet"))
    return out.num_rows


#: Bump when the replication scheme changes (seeding, permutations, ...)
#: so stale on-disk corpora are rebuilt instead of silently reused.
BUILDER_VERSION = "text-hash-seed-v2"


def build_corpus(base_dir: str, out_dir: str, copies: int) -> None:
    marker = os.path.join(out_dir, "_PROBE_META.json")
    want = {"copies": copies, "base": base_dir, "version": BUILDER_VERSION}
    if os.path.exists(marker):
        try:
            with open(marker) as f:
                if json.load(f) == want:
                    print(f"reusing {out_dir} ({copies} copies)", file=sys.stderr)
                    return
        except (OSError, json.JSONDecodeError):
            pass
    os.makedirs(out_dir, exist_ok=True)
    n_docs = build_documents(base_dir, out_dir, copies)
    n_vecs = build_embeddings(base_dir, out_dir, copies)
    n_ev = build_events(base_dir, out_dir, copies)
    for fname in os.listdir(base_dir):
        if not fname.endswith(".parquet"):
            continue
        if fname in ("documents.parquet", "embeddings.parquet", "events.parquet"):
            continue
        dst = os.path.join(out_dir, fname)
        if not os.path.exists(dst):
            os.symlink(os.path.join(base_dir, fname), dst)
    print(
        f"built {out_dir}: {n_docs} docs, {n_vecs} vecs, {n_ev} events "
        f"({copies} copies)",
        file=sys.stderr,
    )
    with open(marker, "w") as f:
        json.dump(want, f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/scale_probe")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of PROBE_QUERIES (default: all) — "
        "e.g. the adaptive trio for the deep x100 decade",
    )
    args = ap.parse_args()

    sim_dir = os.path.join(args.out, f"x{args.copies}")
    build_corpus(args.base, sim_dir, args.copies)

    from spark_streaming_invoice_anomaly_detection_spark.plans.registry import (
        REGISTRY,
        queries,
    )
    from spark_streaming_invoice_anomaly_detection_spark.session import get_spark

    queries()
    spark = get_spark(app_name=f"scale-probe-x{args.copies}")

    probe_queries = (
        tuple(args.queries.split(",")) if args.queries else PROBE_QUERIES
    )
    unknown = [q for q in probe_queries if q not in PROBE_QUERIES]
    if unknown:
        raise SystemExit(f"not in PROBE_QUERIES: {unknown}")

    results: dict[str, dict[str, float]] = {}
    for name in probe_queries:
        fn = REGISTRY[name].spark
        fn(spark, sim_dir).write.format("noop").mode("overwrite").save()  # warm
        best = float("inf")
        for _ in range(args.reps):
            t0 = time.perf_counter()
            fn(spark, sim_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        rows = fn(spark, sim_dir).count()
        results[name] = {"sec": round(best, 3), "rows": rows}
        print(f"{name}: {best:.3f}s rows={rows}", file=sys.stderr)

    print(json.dumps({"copies": args.copies, "queries": results}))
    spark.stop()


if __name__ == "__main__":
    main()
