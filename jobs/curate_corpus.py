"""Production entry point EP1b (SURVEY.md §3.2): the end-to-end training-corpus curation
job — quality gates → near-dup dedup (keep canonical) → optional
stratified language rebalancing → sequence-packing plan — as the same
staged, resumable, lineage-committing graph as jobs/run_dedup.py.

Run locally::

    python jobs/curate_corpus.py --input /root/testdata/sf0.001/documents.parquet \
        --input-kind documents --warehouse /tmp/curate_wh --run-id c1

Or on a cluster (same ship form as run_dedup)::

    python -m zipfile -c dedup.zip dedup/
    spark-submit --py-files dedup.zip jobs/curate_corpus.py \
        --input s3://…/web_pages --warehouse s3://…/warehouse --run-id c1

Stages (each committed, each skipped on resume):

    docs     ingest (latest capture per url, normalize, ids)
    signals  per-doc gate flags — length / token / bigram-repetition /
             language — pure codegen, one scan
    funnel   the cumulative survivor-count report (observability)
    signatures / edges / clusters / report
             the shared near-dup chain (dedup.jobrunner.dedup_stages)
             over gate SURVIVORS only
    deduped  one canonical doc per cluster (min doc_id — the
             cluster_report rule)
    sampled  deterministic per-language hash downsampling (only when
             --sample-rates is given)
    corpus   the final curated table: doc columns + token count +
             [start_chunk, end_chunk] from the per-lang packing plan

Gate/sampling/packing parameters are folded into every affected
stage's resume key: re-running a run id with a changed gate recomputes
exactly the stages whose input set changed, nothing more.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dedup.config import DEFAULT_CONFIG, DedupConfig  # noqa: E402
from dedup.jobrunner import (  # noqa: E402
    Runner,
    dedup_stages,
    ingest_stage,
    load_pages,
)
from dedup.tableio import TableIO  # noqa: E402


def signals_frame(
    docs: DataFrame, min_chars: int, min_tokens: int, langs: list[str] | None
) -> DataFrame:
    """Per-doc curation signals + cumulative ``kept`` flag — one codegen
    projection over the committed docs (norm_text is already
    single-spaced, so token/ngram counts are the token_count/
    repetition_score operator semantics)."""
    from dedup.corpus import repetition_counts

    rc = repetition_counts("norm_text", n=2)
    toks = F.size(F.split(F.col("norm_text"), " ")).cast("long")
    len_ok = F.col("n_chars") >= min_chars
    tok_ok = toks >= min_tokens
    rep_ok = rc["n_distinct_ngrams"] * 2 >= rc["n_ngrams"]
    lang_ok = F.col("lang").isin(langs) if langs else F.lit(True)
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        toks.alias("n_tokens"),
        rc["n_ngrams"].alias("n_ngrams"),
        rc["n_distinct_ngrams"].alias("n_distinct_ngrams"),
        len_ok.alias("len_ok"),
        (len_ok & tok_ok).alias("tok_ok"),
        (len_ok & tok_ok & rep_ok).alias("rep_ok"),
        (len_ok & tok_ok & rep_ok & lang_ok).alias("kept"),
    )


def funnel_report(signals: DataFrame) -> DataFrame:
    """filter_funnel-shaped report derived from the committed signals
    (no re-scan of text)."""
    one = signals.agg(
        F.count("*").cast("long").alias("s0"),
        *[
            F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long").alias(f"s{i}")
            for i, c in enumerate(["len_ok", "tok_ok", "rep_ok", "kept"], 1)
        ],
    )
    names = ["total", "len_ok", "tok_ok", "rep_ok", "kept"]
    args = ", ".join(f"{i}, '{n}', s{i}" for i, n in enumerate(names))
    return one.select(
        F.expr(f"stack({len(names)}, {args}) as (stage_idx, stage, n_docs)")
    )


def run_curate(
    spark,
    tio: TableIO,
    cfg: DedupConfig,
    run_id: str,
    pages: DataFrame,
    min_chars: int = 200,
    min_tokens: int = 40,
    langs: list[str] | None = None,
    sample_rates: dict[str, float] | None = None,
    sample_default_rate: float = 1.0,
    chunk_capacity: int = 2048,
    assume_unique_urls: bool = False,
) -> Runner:
    r = Runner(spark, tio, cfg, run_id)
    uk = "-uniq" if assume_unique_urls else ""
    gk = f"{uk}-g{min_chars},{min_tokens},{','.join(langs or [])}"
    sk = gk + (
        f"-s{json.dumps(sample_rates, sort_keys=True)},{sample_default_rate}"
        if sample_rates is not None
        else ""
    )

    docs = ingest_stage(r, pages, assume_unique_urls).persist()
    docs.count()

    signals = r.stage(
        "signals",
        lambda: signals_frame(docs, min_chars, min_tokens, langs),
        sort_within=["doc_id"],
        extra_key=gk,
    )
    r.stage("funnel", lambda: funnel_report(signals), extra_key=gk)

    # near-dup dedup over gate survivors only: the kept-id frame is
    # slim (one long per row) — the semi join is broadcast-able when
    # small and a doc_id-aligned shuffle otherwise (AQE decides); the
    # persisted kept-docs frame feeds every dedup stage.
    kept_ids = signals.filter(F.col("kept")).select("doc_id")
    kept_docs = docs.join(kept_ids, "doc_id", "left_semi").persist()
    clusters = dedup_stages(r, kept_docs, kept_docs.count(), extra_key=gk)

    def mk_deduped():
        canon = clusters.groupBy("cluster_id").agg(
            F.min("doc_id").alias("doc_id")
        )
        return kept_docs.join(canon.select("doc_id"), "doc_id", "left_semi")

    deduped = r.stage("deduped", mk_deduped, sort_within=["doc_id"], extra_key=gk)

    if sample_rates is not None:
        from dedup.corpus import stratified_sample

        def mk_sampled():
            picked = stratified_sample(
                deduped,
                rates=sample_rates,
                default_rate=sample_default_rate,
                stratum_col="lang",
            ).select("doc_id")
            return deduped.join(picked, "doc_id", "left_semi")

        final_docs = r.stage(
            "sampled", mk_sampled, sort_within=["doc_id"], extra_key=sk
        )
    else:
        final_docs = deduped

    def mk_corpus():
        from dedup.corpus import chunk_plan

        plan = chunk_plan(
            final_docs,
            capacity=chunk_capacity,
            text_col="norm_text",
            shard_col="lang",
        ).select("doc_id", "n_tokens", "start_chunk", "end_chunk")
        return final_docs.select(
            "doc_id", "url", "warc_ts", "lang", "text", "norm_text", "n_chars"
        ).join(plan, "doc_id")

    # the product table lands hive-partitioned by lang (SURVEY §4.3):
    # per-language training shards read with directory pruning, and a
    # lang-filtered consumer scan never touches other languages' files
    r.stage(
        "corpus",
        mk_corpus,
        sort_within=["doc_id"],
        extra_key=sk + f"-c{chunk_capacity}",
        partition_by=["lang"],
    )
    kept_docs.unpersist()
    docs.unpersist()
    return r


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path of input pages")
    ap.add_argument("--input-kind", choices=["pages", "documents"], default="pages")
    ap.add_argument("--warehouse", required=True, help="TableIO root directory")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--config", help="JSON file with DedupConfig overrides")
    ap.add_argument("--min-chars", type=int, default=200)
    ap.add_argument("--min-tokens", type=int, default=40)
    ap.add_argument("--langs", help="comma-separated language allowlist")
    ap.add_argument(
        "--sample-rates",
        help='JSON lang→rate map, e.g. \'{"en": 0.5}\' (omit = no sampling)',
    )
    ap.add_argument("--sample-default-rate", type=float, default=1.0)
    ap.add_argument("--chunk-capacity", type=int, default=2048)
    ap.add_argument(
        "--assume-unique-urls",
        action="store_true",
        help="input is pre-deduplicated by url: skip the latest-capture "
        "aggregation (the ingest's largest shuffle)",
    )
    args = ap.parse_args(argv)

    cfg = DEFAULT_CONFIG
    if args.config:
        with open(args.config) as f:
            cfg = DedupConfig(**{**json.load(f)})

    from dedup.session import get_spark

    spark = get_spark(app_name=f"curate-{args.run_id}")
    tio = TableIO(spark, args.warehouse)
    pages = load_pages(spark, args.input, args.input_kind)
    r = run_curate(
        spark,
        tio,
        cfg,
        args.run_id,
        pages,
        min_chars=args.min_chars,
        min_tokens=args.min_tokens,
        langs=args.langs.split(",") if args.langs else None,
        sample_rates=json.loads(args.sample_rates) if args.sample_rates else None,
        sample_default_rate=args.sample_default_rate,
        chunk_capacity=args.chunk_capacity,
        assume_unique_urls=args.assume_unique_urls,
    )
    print(json.dumps({"run_id": args.run_id, "ran": r.ran, "skipped": r.skipped}))


if __name__ == "__main__":
    main()
