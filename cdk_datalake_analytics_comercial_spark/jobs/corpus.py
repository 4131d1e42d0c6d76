"""Corpus-preparation jobs: the LLM training-data pipeline as a first-class
job layer on the SAME runner/wave machinery as the reference-parity jobs.

The operator modules (`operators.text/dedup/graph/pack`) give the pieces;
this module wires them into the standard data-prep DAG a training corpus
goes through, each stage a materialized table so reruns are incremental and
each stage is independently inspectable:

    raw.documents
      → stage.corpus_filtered      (C4/Gopher survivor rules)
      → stage.corpus_unique        (exact dedup on content fingerprint)
      → domain.corpus_canonical    (MinHash near-dup → connected components
                                    → one canonical doc per cluster)
      → domain.corpus_clean        (benchmark decontamination: k-gram
                                    overlap vs raw.benchmark — passthrough
                                    when no benchmark table is present)
      → analytics.corpus_chunks    (overlapping token windows)
      → analytics.corpus_pack      (context-window binning per lang)
      → analytics.corpus_stats     (log2 length histogram per lang)

Wave order: filter(1) → exact(2) → canonical(3) → decontam(4) →
{chunks, pack, stats}(5).
All writes are dynamic partition overwrites on ``lang`` — rerunning a wave
replaces only the languages present in its input (same incremental contract
as the comercial facts' (id_pais, id_periodo) overwrite).

Scale notes: every stage inherits the operator-level design (bucketed LSH,
log-rounds components, stratified windows — see SCALE.md); the pipeline
adds NO driver-side state beyond run_waves' bookkeeping. The near-dup stage
runs the xxhash64 fast path (the portable md5 mode exists for the DuckDB
oracle queries, not for production runs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..core.catalog import Layer
from ..operators import dedup, graph, text
from ..operators.pack import pack_sequences
from ..runner import JobContext, JobRegistry
from ..sources.writer import write_table

CORPUS_JOBS = JobRegistry()

CHUNK_SIZE = 256
CHUNK_STRIDE = 128
PACK_BUDGET = 2048


def _read(ctx: JobContext, layer: Layer, table: str):
    from ..sources.reader import _scan

    df = _scan(ctx.spark, ctx.catalog.table_path(layer, table))
    if df is None:
        raise FileNotFoundError(f"table {layer.value}/{table} not found")
    return df


@CORPUS_JOBS.register("corpus_filter")
def job_corpus_filter(ctx: JobContext) -> None:
    """Survivor selection: token-count range, duplicate-line fraction,
    mean token length — per-row signals only (single scan, no shuffle
    beyond the partitioned write)."""
    d = _read(ctx, Layer.RAW, "documents")
    n_tok = text.token_count(F.col("text"))
    ls = text.line_stats(F.col("text"))
    norm_len = F.length(text.normalize(F.col("text")))
    sig = d.select(
        "*",
        n_tok.cast("bigint").alias("n_tokens"),
        ls.alias("_ls"),
        norm_len.alias("_nl"),
    ).select(
        "*",
        F.when(
            F.col("_ls.n_lines") > 0,
            F.lit(1.0)
            - F.col("_ls.n_distinct_lines").cast("double") / F.col("_ls.n_lines"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_line_fraction"),
        (
            (F.col("_nl") - (F.col("n_tokens") - 1)).cast("double")
            / F.col("n_tokens")
        ).alias("mean_token_len"),
    )
    out = sig.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_tokens") <= 100000)
        & (F.col("dup_line_fraction") < 0.5)
        & (F.col("mean_token_len") >= 2.0)
        & (F.col("mean_token_len") <= 12.0)
    ).drop("_ls", "_nl")
    write_table(
        out,
        ctx.catalog.table_path(Layer.STAGE, "corpus_filtered"),
        partition_by=["lang"],
    )


@CORPUS_JOBS.register("corpus_dedup_exact")
def job_corpus_dedup_exact(ctx: JobContext) -> None:
    """Exact dedup on the normalized content fingerprint — min doc_id of
    each identical-content group survives."""
    d = _read(ctx, Layer.STAGE, "corpus_filtered")
    out = dedup.exact_dedup(d, "text", "doc_id")
    write_table(
        out,
        ctx.catalog.table_path(Layer.STAGE, "corpus_unique"),
        partition_by=["lang"],
    )


@CORPUS_JOBS.register("corpus_dedup_near")
def job_corpus_dedup_near(ctx: JobContext) -> None:
    """Near-dup removal: MinHash+LSH candidate pairs (xxhash64 fast path),
    exact-Jaccard verify, transitive closure via connected components, keep
    the minimum doc_id of every cluster."""
    d = _read(ctx, Layer.STAGE, "corpus_unique")
    pairs = dedup.ngram_jaccard_pairs(
        d,
        "text",
        "doc_id",
        k=3,
        threshold=0.5,
        candidates=dedup.minhash_lsh_candidates(d, "text", "doc_id"),
    )
    out = graph.keep_canonical(d, pairs, "doc_id")
    write_table(
        out,
        ctx.catalog.table_path(Layer.DOMAIN, "corpus_canonical"),
        partition_by=["lang"],
    )


@CORPUS_JOBS.register("corpus_decontam")
def job_corpus_decontam(ctx: JobContext) -> None:
    """Benchmark decontamination (GPT-3 App. C policy): drop canonical docs
    sharing any k-gram shingle with the ``raw.benchmark`` table. k=3 to
    match the short synthetic docs (operator default is the literature's
    13). No benchmark table registered → clean passthrough, so the stage is
    safe to keep in the DAG unconditionally."""
    from ..operators import contamination
    from ..sources.reader import _scan

    d = _read(ctx, Layer.DOMAIN, "corpus_canonical")
    bench = _scan(ctx.spark, ctx.catalog.table_path(Layer.RAW, "benchmark"))
    out = d if bench is None else contamination.decontaminate(d, bench, k=3)
    write_table(
        out,
        ctx.catalog.table_path(Layer.DOMAIN, "corpus_clean"),
        partition_by=["lang"],
    )


@CORPUS_JOBS.register("corpus_chunks")
def job_corpus_chunks(ctx: JobContext) -> None:
    """Long-document splitting into overlapping token windows."""
    d = _read(ctx, Layer.DOMAIN, "corpus_clean")
    chunks = d.select(
        "doc_id",
        "lang",
        F.posexplode(
            text.chunk_tokens(F.col("text"), CHUNK_SIZE, CHUNK_STRIDE)
        ).alias("chunk_id", "c"),
    ).select(
        "doc_id",
        "lang",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("c.start").alias("start_token"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk").alias("chunk_text"),
    )
    write_table(
        chunks,
        ctx.catalog.table_path(Layer.ANALYTICS, "corpus_chunks"),
        partition_by=["lang"],
    )


@CORPUS_JOBS.register("corpus_pack")
def job_corpus_pack(ctx: JobContext) -> None:
    """Context-window binning per language stratum."""
    d = _read(ctx, Layer.DOMAIN, "corpus_clean")
    withtok = d.select(
        "doc_id",
        "lang",
        text.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    packed = pack_sequences(withtok, "n_tokens", "doc_id", PACK_BUDGET, ["lang"])
    write_table(
        packed,
        ctx.catalog.table_path(Layer.ANALYTICS, "corpus_pack"),
        partition_by=["lang"],
    )


@CORPUS_JOBS.register("corpus_stats")
def job_corpus_stats(ctx: JobContext) -> None:
    """Per-language corpus statistics: log2 token-length histogram."""
    d = _read(ctx, Layer.DOMAIN, "corpus_clean")
    n_tok = text.token_count(F.col("text")).cast("bigint")
    bucket = F.length(F.conv(n_tok.cast("string"), 10, 2)).cast("int")
    out = (
        d.select("lang", bucket.alias("log2_bucket"), n_tok.alias("n"))
        .groupBy("lang", "log2_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
        )
    )
    write_table(
        out,
        ctx.catalog.table_path(Layer.ANALYTICS, "corpus_stats"),
        partition_by=["lang"],
    )
