"""Layer-by-layer replays of the two deployable jobs, for the traced run.

``run_er_layers`` mirrors ``jobs/run_pipeline.main`` with the fused
``MatchPipeline.run``; ``run_corpus_layers`` mirrors
``jobs/run_corpus_pipeline.main`` for the flags the benchmark passes.
Both call the same public library functions in the same order, but put
each layer under its own job group and pin + count its output, so the
event log can attribute stages to layers. The pins move work between
layers but not out of the run; the difference to the untraced job's wall
time is reported as ``trace.overhead_s``. The benchmark checks that the
replay writes the same output as the job, so the replay cannot drift from
the job unnoticed.

Known overlap: ``TokenSimilarity.pair_scores`` derives its own candidate
stream, so ``token_similarity.score`` re-runs the blocking that
``token_similarity.candidates`` timed on its own.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Tracer:
    """Job-group scoping, wall clocks and output row counts per layer."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        self.extras: dict[str, float] = {}
        self._current: str | None = None

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(name, name)
        self._current = name
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t0
            self._current = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def count(self, df: DataFrame) -> int:
        """Count ``df`` as the current layer's output rows."""
        n = df.count()
        self.rows[self._current] = self.rows.get(self._current, 0) + n
        return n


def _pullback(cand: DataFrame, keyed: DataFrame) -> DataFrame:
    """Normalized-form edges (s0, s1) → raw-string edges (src, dst)."""
    k0 = keyed.select(F.col("string").alias("r0"), F.col("norm").alias("s0"))
    k1 = keyed.select(F.col("string").alias("r1"), F.col("norm").alias("s1"))
    return cand.join(k0, "s0").join(k1, "s1").select(
        F.col("r0").alias("src"), F.col("r1").alias("dst")
    )


def _keyed_universe(md, normalize: str):
    from nama_spark.functions.normalize import norm_key

    keyed = md.df.select(
        "string", norm_key(F.col("string"), normalize).alias("norm")
    ).where(
        F.col("norm").isNotNull() & (F.col("norm") != "")
    ).localCheckpoint(eager=False)
    return keyed, keyed.select(F.col("norm").alias("string")).distinct()


def _lsh_collisions(emb: DataFrame, p) -> int:
    """Distinct pairs sharing a bucket in at least one hash table of the
    same BRP model ``lsh_candidates`` fits (same seed and parameters):
    the candidates the LSH join considers before its distance filter."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = emb.select(
        "string",
        array_to_vector(F.col("vec").cast("array<double>")).alias("features"),
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=p.num_hash_tables, bucketLength=p.bucket_length,
        seed=42,
    ).fit(feat)
    h = model.transform(feat).select(
        "string", F.posexplode("hashes").alias("table", "h")
    ).select("string", "table", vector_to_array("h")[0].alias("bucket"))
    a, b = h.alias("a"), h.alias("b")
    return (
        a.join(b, ["table", "bucket"])
        .where(F.col("a.string") < F.col("b.string"))
        .select("a.string", "b.string")
        .distinct()
        .count()
    )


def run_er_layers(spark, tr: Tracer, argv: list[str]) -> dict:
    """Replay ``run_pipeline.main(argv)`` layer by layer. Returns the
    job's summary dict (strings, groups)."""
    import run_pipeline

    from nama_spark.operators.cluster import connected_components
    from nama_spark.operators.embed import embed_strings, lsh_candidates
    from nama_spark.operators.matchdata import MatchData
    from nama_spark.operators.token_similarity import TokenSimilarity
    from nama_spark.plans.lineage import LineageLog
    from nama_spark.plans.pipeline import (
        EmbeddingPass,
        ExactKeyPass,
        TokenSimPass,
        assign_records,
    )
    from nama_spark.sources.readers import read_records

    args = run_pipeline.parse_args(argv)
    if not args.assign_records or (
        args.reference_input or args.bucketed_table or args.checkpoint_dir
    ):
        raise ValueError("the replay covers the benchmark's flags only")
    lineage = LineageLog(spark, None)

    with tr.layer("pipeline.ingest"):
        records = read_records(spark, args.input, catalog=args.catalog)
        names = records.groupBy(F.col(args.string_col).alias("string")).agg(
            F.count(F.lit(1)).alias("count")
        )
        md = MatchData(
            names.withColumn("group", F.col("string")).localCheckpoint(eager=False),
            _relabel=False,
        )
        lineage.add("ingest", "distinct_strings", tr.count(md.df))

    edge_sets = []
    for p in run_pipeline.build_passes(args):
        t_pass = time.time()
        if isinstance(p, ExactKeyPass):
            with tr.layer("block.exact_key"):
                edges = p.edges(md, lineage).localCheckpoint(eager=False)
                tr.count(edges)
        elif isinstance(p, TokenSimPass):
            with tr.layer("token_similarity.fit"):
                keyed, universe = _keyed_universe(md, p.normalize)
                ts = TokenSimilarity(
                    tokenizer=p.tokenizer, weighting=p.weighting,
                    measure=p.measure, max_block_size=p.max_block_size,
                ).fit(universe)
                tr.count(universe)
            with tr.layer("token_similarity.candidates"):
                n_cand = tr.count(ts.candidate_pairs().localCheckpoint(eager=False))
            with tr.layer("token_similarity.score"):
                kept = ts.pair_scores().where(
                    F.col("score") >= p.threshold
                ).localCheckpoint(eager=False)
                n_kept = kept.count()
                lineage.add(p.name, "threshold", p.threshold)
                edges = _pullback(kept, keyed).localCheckpoint(eager=False)
                tr.count(edges)
            tr.extras["token_similarity.score.kept_per_candidate"] = (
                n_kept / n_cand if n_cand else 0.0
            )
        elif isinstance(p, EmbeddingPass):
            if p.candidate_mode != "lsh" or p.model != "rp" or p.vectors_path:
                raise ValueError("the replay covers the lsh/rp embedding pass only")
            with tr.layer("embed.vectors"):
                keyed, universe = _keyed_universe(md, p.normalize)
                emb = embed_strings(
                    universe, count_col=None, dim=p.dim, seed=p.seed
                ).localCheckpoint(eager=False)
                tr.count(emb)
            cos_t = 1.0 + math.log(p.threshold) / p.alpha if p.threshold > 0 else -99.0
            with tr.layer("embed.candidates"):
                cand = lsh_candidates(
                    emb, cos_t, num_hash_tables=p.num_hash_tables,
                    bucket_length=p.bucket_length,
                ).localCheckpoint(eager=False)
                n_kept = cand.count()
                edges = _pullback(cand, keyed).localCheckpoint(eager=False)
                tr.count(edges)
            with tr.layer("trace.aux"):
                n_coll = _lsh_collisions(emb, p)
            tr.extras["embed.candidates.kept_per_candidate"] = (
                n_kept / n_coll if n_coll else 0.0
            )
        else:
            raise ValueError(f"no replay for pass {p.name}")
        with tr.layer("lineage.stats"):
            lineage.add(p.name, "wall_sec", time.time() - t_pass)
            lineage.add_partition_stats(edges, p.name)
        edge_sets.append(edges)

    t_cc = time.time()
    with tr.layer("cluster.cc"):
        own = md.df.select(F.col("string").alias("src"), F.col("group").alias("dst"))
        cc_log: list = []
        comp = connected_components(
            own.union(reduce(DataFrame.union, edge_sets)), src="src", dst="dst",
            lineage=cc_log, small_graph_threshold=args.cc_driver_edge_cap,
        ).localCheckpoint(eager=False)
        tr.count(comp)
    edges_in = next(r["value"] for r in cc_log if r["metric"] == "edges")
    tr.extras["cluster.cc.edges_in"] = edges_in
    tr.extras["cluster.cc.driver_path"] = float(edges_in <= args.cc_driver_edge_cap)

    with tr.layer("matchdata.unite"):
        joined = md.df.join(comp, md.df["string"] == comp["node"], "left").select(
            "string", "count",
            F.coalesce(F.col("component"), F.col("string")).alias("group"),
        )
        md = MatchData(MatchData(joined).df.localCheckpoint(eager=False), _relabel=False)
        tr.count(md.df)

    with tr.layer("lineage.stats"):
        lineage.add("fused_cc", "wall_sec", time.time() - t_cc)
        lineage.add("fused_cc", "groups", md.df.select("group").distinct().count())
        lineage.add_partition_stats(md.df, "fused_cc")
        lineage.flush()

    with tr.layer("write.output"):
        md.df.write.mode("overwrite").parquet(args.output + "/clusters")
        assign_records(records, md, string_col=args.string_col).write.mode(
            "overwrite"
        ).parquet(args.output + "/records_with_groups")
        summary = {
            "strings": tr.count(md.df),
            "groups": md.df.select("group").distinct().count(),
        }
    return summary


def run_corpus_layers(spark, tr: Tracer, argv: list[str]) -> dict:
    """Replay ``run_corpus_pipeline.main(argv)`` layer by layer. Returns
    the job's summary dict (funnel, total_tokens)."""
    import run_corpus_pipeline
    from pyspark.sql import Observation

    from nama_spark.functions.text import (
        fingerprint,
        lang_id,
        quality_score,
        token_count,
        word_token_count,
    )
    from nama_spark.operators.dedup import (
        exact_dup_groups,
        minhash_lsh_pairs,
        near_dup_clusters,
    )
    from nama_spark.sources.readers import read_records

    a = run_corpus_pipeline.parse_args(argv)
    if (
        a.c4_lines or a.paragraph_min_df or a.span_action == "remove"
        or a.span_max_dup_frac or a.checkpoint_dir or a.canonical_priority
        or a.gopher_repetition or a.lm_ref or a.quality_ref or a.decontam_eval
        or a.mixture_temperature or a.dsir_ref or a.redact_pii
        or a.bpe_merges or a.val_fraction or a.chunk_tokens or a.shuffle_shards
    ):
        raise ValueError("the replay covers the benchmark's flags only")
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    id_col, text_col = a.id_col, a.text_col

    with tr.layer("dedup.exact"):
        docs = read_records(spark, a.input, catalog=a.catalog)
        funnel = {"input": docs.count()}
        if docs.rdd.getNumPartitions() < n_parts:
            docs = docs.repartition(n_parts)
        keep_exact = (
            exact_dup_groups(docs, text_col, id_col)
            .select(F.col("canonical_id").alias(id_col))
            .distinct()
        )
        docs = docs.join(keep_exact, id_col, "left_semi").localCheckpoint(eager=False)
        funnel["after_exact_dedup"] = tr.count(docs)

    with tr.layer("dedup.minhash"):
        pairs = minhash_lsh_pairs(
            docs, text_col, id_col, k=a.shingle_k,
            verify_threshold=a.near_dup_threshold,
        ).localCheckpoint(eager=False)
        tr.count(pairs)

    with tr.layer("dedup.clusters"):
        all_ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
        clusters = near_dup_clusters(pairs.select("id0", "id1"), all_ids)
        keep_near = clusters.groupBy("cluster_id").agg(
            F.min("doc_id").alias(id_col)
        ).select(id_col)
        docs = docs.join(keep_near, id_col, "left_semi").localCheckpoint(eager=False)
        funnel["after_near_dedup"] = tr.count(docs)

    with tr.layer("text.filters"):
        if docs.rdd.getNumPartitions() < n_parts:
            docs = docs.repartition(n_parts)
        t = F.col(text_col)
        docs = docs.withColumns({
            "quality": quality_score(t),
            "lang": lang_id(t),
            "n_tokens": token_count(t),
            "n_words": word_token_count(t),
            "fp": fingerprint(t),
        })
        if a.min_quality > 0:
            docs = docs.where(F.col("quality") >= a.min_quality)
        langs = [x for x in a.langs.split(",") if x]
        if langs:
            docs = docs.where(F.col("lang").isin(langs))
        docs = docs.localCheckpoint(eager=False)
        tr.count(docs)

    with tr.layer("write.shards"):
        obs = Observation("corpus_final")
        docs = docs.observe(
            obs, F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_toks")
        )
        docs.write.mode("overwrite").partitionBy("lang").parquet(a.output + "/shards")
        m = obs.get
        funnel["after_filters"] = int(m["n_docs"])
        tr.rows["write.shards"] = funnel["after_filters"]
    return {"funnel": funnel, "total_tokens": int(m["n_toks"] or 0)}
