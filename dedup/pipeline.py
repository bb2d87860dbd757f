"""Stage graph: the end-to-end near-duplicate pipeline (SURVEY.md §3.2).

Every stage is a pure ``(DataFrame, DedupConfig) -> DataFrame`` — fully
lazy, nothing executes until an action. The library and the shipped
job run the SAME stage graph and differ only in how each stage is
materialized: ``run_dedup`` spills docs and signatures to scratch
(``_spill``), while ``jobrunner`` commits each of them as a resumable
TableIO stage. ``build_signatures`` is the lazy signature builder and
``build_edges`` the edges builder with the one candidate-tier selector.

    pages ──ingest──> docs ──reps──> shingles ──sig──> signatures
      docs ──────────exact edges──────────────┐            │bands
      signatures ──simhash candidates──┐      │            │
      bands ──lsh candidates──> union ─┴─verify(jaccard)──> edges
      edges ──connected components──> clusters ──assign──> output
"""

from __future__ import annotations

import atexit
import os
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from dedup.candidates import (
    BROADCAST_SIDEBAND_MAX_BYTES,
    cap_buckets,
    estimate_sideband_bytes,
    fused_candidates_bcast,
    lsh_candidates_arrow,
    sig_lookup_arrays,
    simhash_candidates_arrow,
)
from dedup.skew import salted_lsh_candidates
from dedup.components import assign_clusters, connected_components
from dedup.config import DEFAULT_CONFIG, DedupConfig
from dedup.ingest import exact_edges, exact_groups, representatives, to_docs_arrow
from dedup.signatures import with_bands, with_bands_pre, with_slim_signatures
from dedup.verify import (
    BROADCAST_SIGS_MAX,
    est_filter_pairs,
    verify_containment,
    verify_jaccard_lazy,
)


#: spill dirs created by this process — removed at interpreter exit so
#: repeated runs don't fill the (RAM-backed) scratch space
_SPILL_DIRS: list[str] = []


def _cleanup_spills() -> None:
    import shutil

    for d in _SPILL_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_spills)

#: broadcast the rep-id frame (8 B/row) below this many docs — 20M ids
#: ≈ 160 MB broadcast, comfortably inside executor memory; beyond that
#: fall back to the shuffle join (bucketed layout at real scale)
BROADCAST_REP_IDS_MAX = 20_000_000


@contextmanager
def job_desc(spark, desc: str):
    """Label the Spark jobs of an eager action (profiling / Spark UI
    attribution; AQE sub-jobs inherit the description)."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


#: rows per spill file — decouples downstream task grain from the
#: parallelism of the run that WROTE the spill. Without it a local[8]
#: run writes ~11 fat files, and every later scan (including the hot
#: signature kernel) is stuck with ≤11 tasks whatever the session's
#: core count — profiled as a 1.4-ragged-wave stage costing ~10 s of
#: wall at 500k docs. 8192-row files (~5 MB of docs) give every level
#: even waves. Local-bench knob only: at cluster scale the spill is a
#: TableIO commit whose bucketed layout fixes file counts explicitly.
SPILL_MAX_RECORDS_PER_FILE = int(os.environ.get("DEDUP_SPILL_ROWS_PER_FILE", 8192))


def _spill(df: DataFrame, name: str) -> DataFrame:
    """Materialize via a parquet round-trip in a scratch dir (vectorized
    writer/reader — far cheaper than the columnar in-memory cache for
    wide array columns). Scratch is RAM-backed when available (see
    session.scratch_dir — the sandbox's single shared disk is not the
    at-scale model); at real scale this is a TableIO commit instead
    (jobs/run_dedup.py)."""
    import tempfile

    from dedup.session import _is_tmpfs, scratch_dir

    base = scratch_dir()
    os.makedirs(base, exist_ok=True)
    d = tempfile.mkdtemp(prefix=f"dedup-spill-{name}-", dir=base)
    _SPILL_DIRS.append(d)
    w = df.write.option("maxRecordsPerFile", SPILL_MAX_RECORDS_PER_FILE)
    # $DEDUP_SPILL_COMPRESSION overrides the tmpfs auto-toggle (A/B
    # lever: compressing the text-heavy docs spill trades CPU — which
    # scales with cores — for DRAM read traffic on every downstream
    # scan, which does not; measured both ways in BENCH/BASELINE.md)
    comp = os.environ.get("DEDUP_SPILL_COMPRESSION")
    if comp:
        w = w.option("compression", comp)
    elif _is_tmpfs(base):
        # RAM-backed scratch: snappy only burns shared DRAM bandwidth —
        # the spill is re-scanned by several downstream stages and every
        # scan would re-decompress bytes that already live in memory.
        # On a real cluster the spill is a TableIO commit to disk/object
        # storage where compression pays for itself (same rationale as
        # session.py's shuffle-compression toggle).
        w = w.option("compression", "uncompressed")
    with job_desc(df.sparkSession, f"dedup: spill {name}"):
        w.mode("overwrite").parquet(d)
        # explicit schema: the read-back otherwise runs a footer-sampling
        # schema-inference job per spill — pure driver-side latency that
        # does not shrink with cores
        out = df.sparkSession.read.schema(df.schema).parquet(d)
        # breadcrumb for driver-side native reads of the spilled files
        # (e.g. candidates.sig_lookup_arrays skips a Spark collect job)
        out._dedup_spill_dir = d
        return out


@dataclass
class DedupResult:
    docs: DataFrame
    #: pipeline signature spill — slimmed for scale: (doc_id,
    #: band_hashes array<long>(bands), mh_pre array<long>(prefilter
    #: perms), simhash, n_shingles). The full-width minhash frame is
    #: `signatures.with_shingle_signatures(reps, cfg)` when needed.
    signatures: DataFrame
    edges: DataFrame
    clusters: DataFrame  # docs + cluster_id (singletons included)


def _broadcast_gates(n_docs: int | None, cfg: DedupConfig) -> tuple[bool, bool]:
    """(broadcast the rep-id frame, broadcast the signature sideband) for
    a materialized docs frame of ``n_docs`` rows; both off when the count
    is unknown (lazy callers)."""
    if n_docs is None:
        return False, False
    # the slim signature frame (~136 B/doc) is broadcastable far below
    # the 8 B/doc id frame's cap — separate threshold (verify.py) plus
    # a BYTES bound on the candidate-kernel sideband for the widest
    # layout this run can select (with_bands + full width): a config
    # that widens the per-doc payload must not ride a doc-count-only
    # gate into an oversized per-worker broadcast
    bcast_sigs = (
        n_docs <= BROADCAST_SIGS_MAX
        and estimate_sideband_bytes(n_docs, cfg, with_bands=True, full_width=True)
        <= BROADCAST_SIDEBAND_MAX_BYTES
    )
    return n_docs <= BROADCAST_REP_IDS_MAX, bcast_sigs


def build_signatures(
    docs: DataFrame, cfg: DedupConfig, n_docs: int | None = None
) -> DataFrame:
    """docs → lazy slim signature frame over the content-sha
    representatives: (doc_id, pre*, band_hashes, simhash, n_shingles).
    The caller materializes it once — ``run_dedup`` as a scratch spill,
    the shipped job as its committed ``signatures`` stage — because a
    lazy frame would be recomputed by every concurrent branch of the
    edges action (measured 6×).

    ``n_docs`` (the row count of a materialized docs frame) hint-
    broadcasts the rep-id frame when small: without the hint the
    left-semi join map-writes the full docs text column before AQE can
    demote it (306 MB at 500k docs). Above the cap, or unknown, the safe
    shuffle join stands — at cluster scale the co-location comes from
    bucketed table layout instead (SURVEY §4.3)."""
    bcast_ids, _ = _broadcast_gates(n_docs, cfg)
    if "band_hashes" not in docs.columns:
        # fused slim signature stage (see signatures.with_slim_signatures):
        # band keys + est-prefilter minhash prefix + simhash in ONE Arrow
        # crossing. The full num_perm-wide minhash never leaves the
        # Python worker — pairs are decided by exact shingle Jaccard, so
        # the suffix is dead weight; signature I/O shrinks ~2.5× and the
        # pair-join shuffle ~4×.
        return with_slim_signatures(
            representatives(docs, cfg, broadcast_ids=bcast_ids), cfg
        )
    # fused-ingest docs (to_docs_arrow(slim_sigs=True)): the signature
    # columns were computed inside the ingest kernel from the normalized
    # bytes already in hand. Only rep-filter here (sigs exist per
    # ingested row; only content-sha representatives may enter candidate
    # generation — identical signatures on exact dups would otherwise
    # explode LSH buckets quadratically in group size): a column-pruned
    # scan, never the text, so every downstream consumer sees the same
    # slim layout as the staged path.
    sig_cols = [
        c
        for c in docs.columns
        if c.startswith("pre") or c in ("band_hashes", "simhash", "n_shingles")
    ]
    ids = exact_groups(docs).select(F.col("canon_id").alias("doc_id"))
    if bcast_ids:
        ids = F.broadcast(ids)
    return (
        docs.join(ids, "doc_id", "left_semi")
        .filter(F.col("n_chars") >= cfg.min_text_len)
        .select("doc_id", *sig_cols)
    )


def build_edges(
    docs: DataFrame,
    sigs: DataFrame,
    cfg: DedupConfig,
    n_docs: int | None = None,
    use_simhash: bool = True,
    use_containment: bool = False,
) -> DataFrame:
    """(docs, materialized signatures) → lazy edge frame (src, dst,
    est_jacc, sim, kind). One candidate-tier selector for every caller:
    candidate generators are unioned pre-verification; 'exact' edges
    bypass verification (they are definitionally sim=1). ``sigs`` is the
    slim frame of ``build_signatures`` (or a full-width minhash frame,
    which takes the plain equi-join tier); ``n_docs`` enables the
    broadcast tiers."""
    _, bcast_sigs = _broadcast_gates(n_docs, cfg)
    slim = all(c in sigs.columns for c in ("pre0", "pre1", "pre2", "pre3"))
    pre_refined = False  # set by the bcast branch when refine ran in-kernel
    if slim and cfg.salt_hot_thresh <= 0 and bcast_sigs:
        # Exchange-free broadcast candidate kernel
        # (candidates.fused_candidates_bcast): ALL per-doc metadata —
        # band hashes, simhash, n_shingles, packed MinHash bytes —
        # rides a ~(56 + 8·bands) B/doc numpy broadcast; one task per
        # bucket-space hash slice enumerates its buckets straight off
        # the broadcast. The 9M-row tagged band/chunk explode, its
        # exchange (row serialization + partition-id sort + ~330 MB
        # write+read at 500k docs) and the per-row Arrow crossing
        # disappear entirely — exchange cost was the worst 8→32-core
        # task-time inflater. Same (pair, est) output as the
        # shuffle-path kernels below (parity-tested); the bucket cap
        # folds in-kernel (no extra stats pass).
        lookup = sig_lookup_arrays(
            sigs,
            with_bands=True,
            # a scratch spill or a committed snapshot dir: read natively
            parquet_dir=getattr(sigs, "_dedup_spill_dir", None),
            cfg=cfg,  # enables the presorted-slice kernel layout
            # the fused kernel indexes rows positionally (never binary-
            # searches ids) — file order skips the id argsort + five
            # row-gathers on the executor-idle critical path
            sorted_ids=False,
        )
        # full-width packed bytes available → the kernel also runs the
        # stage-2 refine (verify.refine_est_pairs twin) in place, so
        # the JVM only ever sees final refined pairs
        pre_refined = "pre_full" in lookup
        lookup_bc = docs.sparkSession.sparkContext.broadcast(lookup)
        cands = fused_candidates_bcast(
            docs.sparkSession,
            lookup_bc,
            cfg,
            cap=cfg.bucket_cap,
            use_simhash=use_simhash,
            full_est=pre_refined,
        )
    elif slim and cfg.salt_hot_thresh <= 0:
        # fused numpy bucket scan (candidates.lsh_candidates_arrow):
        # pairing + stage-1 est filter run inside the task that owns the
        # bucket — the 10-100×-overcomplete pair flood never exists as
        # JVM join-probe rows, only as index arrays killed by vectorized
        # byte compares. ONE shuffle (bucket key); the pair-distinct sees
        # survivors only. Mega-bucket skew is handled by cap_buckets (a
        # bucket stays whole in one task); with caps off AND salting
        # requested, the salted JVM join below is the skew path. This is
        # the at-scale path (no driver collect): above the broadcast
        # gate the metadata travels through the exchange with the rows.
        bands, _hot = cap_buckets(with_bands_pre(sigs, cfg), cfg.bucket_cap)
        cands = lsh_candidates_arrow(bands, cfg)
        if use_simhash:
            cands = cands.union(
                est_filter_pairs(
                    simhash_candidates_arrow(sigs, cfg, dedupe=False), sigs, cfg
                )
            )
    else:
        # salted path when cfg.salt_hot_thresh > 0, plain equi-join
        # otherwise. Raw (non-distinct) floods from both generators: the
        # est prefilter runs fused into the join stage (pure codegen,
        # verify.est_filter_pairs) and the pair-distinct shuffle happens
        # on its survivors only.
        bands, _hot = cap_buckets(with_bands(sigs, cfg), cfg.bucket_cap)
        cands = salted_lsh_candidates(bands, cfg, dedupe=False)
        if use_simhash:
            cands = cands.union(simhash_candidates_arrow(sigs, cfg, dedupe=False))
        if slim:
            cands = est_filter_pairs(cands, sigs, cfg)
    cands = cands.dropDuplicates(["src", "dst"])

    # exact verification recomputes shingles only for est-passing docs
    # (with_shingles_np) — the full shingle table is never materialized
    near = verify_jaccard_lazy(
        cands,
        docs,
        cfg,
        signatures=sigs,
        broadcast_sigs=bcast_sigs,
        pre_refined=pre_refined,
    )
    # the union is duplicate-free by construction, no pair-distinct
    # shuffle needed: `near` derives 1:1 from the already-distinct
    # candidate pairs, whose endpoints are content-sha representatives
    # (one per sha, the group min); `exact` edges point canon → non-rep
    # member within one sha group, so no exact edge can coincide with a
    # rep↔rep pair; `substr` edges are anti-joined against `near` and
    # come from the same distinct candidate set.
    e = exact_edges(docs).unionByName(near)
    if use_containment:
        sub = verify_containment(
            cands.join(near.select("src", "dst"), ["src", "dst"], "left_anti"),
            docs,
            cfg,
        )
        e = e.unionByName(sub)
    return e


def run_dedup(
    pages: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    recompute_text: bool = False,
    use_simhash: bool = True,
    use_containment: bool = False,
    edge_kinds: tuple[str, ...] = ("exact", "near"),
    fuse_ingest_sigs: bool | None = None,
) -> DedupResult:
    """Full pipeline: pages → clusters. ``edge_kinds`` selects which edge
    kinds participate in clustering (pinned default: exact + verified
    Jaccard — the oracle in tests mirrors exactly this rule).

    ``fuse_ingest_sigs`` (None = $DEDUP_FUSE_INGEST_SIGS, default off):
    trusted-text speculative path only — compute the slim signature
    columns inside the ingest kernel (one Arrow crossing for
    normalization AND signatures; the norm_text column never re-crosses
    from the spill) at the cost of signing exact-duplicate captures too.
    Output-identical either way (parity test); A/B in BENCH/BASELINE.md."""
    # Runtime-adaptive latest-capture pick: one pruned scan of the url
    # column (count vs distinct-count — map-side partial agg, ~30 MB of
    # strings at 500k docs) decides whether any url has multiple
    # captures. When none does — the common case for pre-deduplicated /
    # curated crawls — the latest-by-url aggregation is the identity.
    # Same AQE-style runtime-stats-drive-the-plan rationale as the
    # broadcast switches.
    #
    # SPECULATIVE OVERLAP (trusted-text path): the probe used to run
    # serially BEFORE ingest (2.7 task-s at 4 cores, 19.8 at 32 — the
    # pipeline's worst per-core inflater, pure source-scan contention;
    # BENCH/BASELINE.md). Now the probe job runs from a daemon thread
    # while the main thread speculates the common case: ingest ALL
    # captures immediately (assume_unique_urls=True) carrying the 8 B
    # latest_by_url tie-break (`_tb`). If the probe reports duplicate
    # urls, the winning captures are picked AFTER the spill by
    # `ingest.latest_docs_by_url` — provably the same winners (parity
    # test), and the collapse agg now shuffles the slim html-free spill
    # instead of raw pages. Mis-speculation cost: the derived-column
    # kernel ran over losing captures too. The extractor path
    # (recompute_text=True) never speculates — extracting losing
    # captures would run the expensive UDF on rows the probe-first plan
    # provably skips.
    spark = pages.sparkSession
    speculate = not recompute_text
    if fuse_ingest_sigs is None:
        fuse_ingest_sigs = os.environ.get("DEDUP_FUSE_INGEST_SIGS", "0") == "1"
    fuse_ingest_sigs = fuse_ingest_sigs and speculate
    probe_out: dict = {}

    def _probe() -> None:
        try:
            with job_desc(spark, "dedup: url-uniqueness probe"):
                probe_out["cnt"] = pages.agg(
                    F.count("*").alias("n"), F.count_distinct("url").alias("u")
                ).first()
        except BaseException as exc:  # noqa: BLE001 — re-raised on the caller
            # a daemon-thread exception would otherwise vanish and
            # surface as a bare KeyError('cnt') masking the real Spark
            # failure; carry it across the join instead
            probe_out["err"] = exc

    # `text` is never read past ingest (similarity runs on norm_text;
    # reporting on ids/metadata) — keeping it out of the persisted
    # working set cuts ~1/3 of the cache bytes and of every downstream
    # cache scan. The raw text stays available in `pages`.
    #
    # Materialization is a parquet round-trip, NOT an in-heap
    # deserialized cache: building ~1 GB of String/UnsafeRow cache
    # blocks from 16+ threads concurrently churns the shared heap —
    # profiled 6.3× task-time inflation (52→324 core-s, GC 0.4→33 s)
    # going local[4]→local[16] on identical work, the single worst
    # scaling pathology in the pipeline. The columnar file round-trip
    # keeps materialized bytes off-heap and every re-scan vectorized.
    # Arrow-kernel docs tail (ingest.to_docs_arrow, parity-tested): the
    # JVM regexp_replace+lower normalization dominated this stage and
    # inflated ~2.5× with cores; the kernel path is vectorized RE2 on
    # ASCII batches with the oracle's Python twin as fallback.
    # keep_text=False: the raw text never crosses Arrow back — the
    # pipeline reads only norm_text past ingest.
    if speculate:
        import threading

        t = threading.Thread(target=_probe, daemon=True)
        t.start()
        docs = _spill(
            to_docs_arrow(
                pages,
                cfg,
                recompute_text=False,
                assume_unique_urls=True,
                keep_text=False,
                carry_tiebreak=True,
                slim_sigs=fuse_ingest_sigs,
            ),
            "docs",
        )
        t.join()
        if "err" in probe_out:
            raise RuntimeError("url-uniqueness probe failed") from probe_out["err"]
        cnt = probe_out["cnt"]
        if cnt["n"] != cnt["u"]:
            from dedup.ingest import latest_docs_by_url

            pre_dir = getattr(docs, "_dedup_spill_dir", None)
            docs = _spill(latest_docs_by_url(docs), "docs")
            # the collapsed spill fully materialized above — free the
            # superseded all-captures spill now instead of at process
            # exit (on a heavily multi-captured crawl it would roughly
            # double the docs footprint on the RAM-backed scratch for
            # the rest of the run; CLAUDE.md documents that budget as
            # already marginal at 2M local docs)
            if pre_dir:
                import shutil

                shutil.rmtree(pre_dir, ignore_errors=True)
                if pre_dir in _SPILL_DIRS:
                    _SPILL_DIRS.remove(pre_dir)
        else:
            docs = docs.drop("_tb")
    else:
        _probe()
        # same masking guard as the speculative branch: a Spark failure
        # inside the probe must surface as the chained cause, not as a
        # bare KeyError('cnt')
        if "err" in probe_out:
            raise RuntimeError("url-uniqueness probe failed") from probe_out["err"]
        cnt = probe_out["cnt"]
        docs = _spill(
            to_docs_arrow(
                pages,
                cfg,
                recompute_text=True,
                assume_unique_urls=cnt["n"] == cnt["u"],
                keep_text=False,
            ),
            "docs",
        )
    # docs is parquet-backed, so the count is a metadata-only job; it
    # gates the broadcast tiers of both builders
    n_docs = docs.count()
    sigs = _spill(build_signatures(docs, cfg, n_docs), "sigsh")
    edges = build_edges(
        docs, sigs, cfg, n_docs,
        use_simhash=use_simhash, use_containment=use_containment,
    )
    if fuse_ingest_sigs and "band_hashes" in docs.columns:
        # API/output parity with the staged path: the fused sig columns
        # are build_signatures inputs — the returned docs/clusters frames
        # carry the standard docs schema either way (lazy projection
        # over the spill; the edge DAG above keeps its own reference)
        docs = docs.drop(
            *[
                c
                for c in docs.columns
                if c.startswith("pre")
                or c in ("band_hashes", "simhash", "n_shingles")
            ]
        )
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    with job_desc(pages.sparkSession, "dedup: verify edges + cc"):
        comp = connected_components(
            edges.filter(F.col("kind").isin(*edge_kinds)), max_iter=cfg.max_cc_iter
        )
    clusters = assign_clusters(docs, comp)
    return DedupResult(docs=docs, signatures=sigs, edges=edges, clusters=clusters)


def cluster_report(clusters: DataFrame) -> DataFrame:
    """Cluster stats (F2/G2 surface): size, canonical member, span."""
    return clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.min("doc_id").alias("canonical_doc_id"),
        F.min("warc_ts").alias("first_seen"),
        F.max("warc_ts").alias("last_seen"),
        F.round(F.avg("n_chars"), 2).alias("avg_n_chars"),
    )
