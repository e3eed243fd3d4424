package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextStats
import graft.operators.{Dedup, Packing, Sampling, Similarity}

/** `curate`: one full curation pass over a generated corpus, then
  * incremental batches against the persisted LSH index and component
  * state. The pass is timed as `pass_s`, each batch as one `op_s`;
  * `ops_per_s` is documents curated per second over the pass and the
  * batches. */
object Curate extends Workload {

  private val Budgets = Map("src0" -> 400000L, "src1" -> 200000L, "src2" -> 150000L,
    "src3" -> 100000L, "src4" -> 80000L, "src5" -> 60000L, "src6" -> 50000L, "src7" -> 40000L)
  private val CosineThreshold = 0.9
  /** Component-state buckets, sized to the generated corpus. */
  private val StateBuckets = 8

  private def batches(ctx: Ctx): Seq[(Long, Long)] =
    ctx.plan("batches").split(",").toSeq.map { r =>
      val Array(a, b) = r.split("-")
      (a.toLong, b.toLong)
    }

  private def quality(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      round(TextStats.qualityScoreOf(TextStats.tokens(col("text"))), 4).as("quality"))

  /** survivors → group-keyed split → token-budget mix → pack → shuffle,
    * written as parquet under `out`. */
  private def exportCorpus(spark: SparkSession, docs: DataFrame, qual: DataFrame,
                     state: String, out: String): Unit = {
    val surv = Dedup.survivorsFromState(spark, state, qual)
    val kept = docs.select("doc_id", "source", "text")
      .join(surv.select("doc_id", "group_id", "keep"), Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("group_id"), col("doc_id")))
      .filter(coalesce(col("keep"), lit(true)))
    val train = Sampling.assignSplit(kept, "group_key").filter(col("split") === "train")
      .select(col("doc_id"), col("source"), size(TextStats.tokens(col("text"))).cast("long").as("n_toks"))
      .localCheckpoint()
    val mixed = Sampling.tokenBudgetMix(train, "source", "doc_id", "n_toks", Budgets).localCheckpoint()
    val packed = Packing.nextFitPack(mixed, "doc_id", "n_toks", shards = 8, capacity = 2048L)
      .withColumnRenamed("id", "doc_id").withColumnRenamed("shard", "pack_shard")
    Sampling.writeShuffled(packed, "doc_id", out, nShards = 16)
  }

  override val measuredKinds: Set[String] = Set("pass", "batch")

  override def run(spark: SparkSession, ctx: Ctx, trace: Trace, report: Report): Unit = {
    report.setupDone()
    val nCorpus = ctx.plan("corpus_docs").toLong
    val all = Tables.documents(spark, ctx.data)
    val corpus = all.filter(col("doc_id") < nCorpus)
    val bench = spark.read.parquet(s"${ctx.data}/bench_docs.parquet")
    val planted = spark.read.parquet(s"${ctx.data}/planted.parquet")
    val idx = s"${ctx.work}/lsh-index"
    val state = s"${ctx.work}/cc-state"
    val exportPath = s"${ctx.work}/export"
    def step[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      val out = trace.span(name)(body)
      report.sample(s"operators.dedup.${name}_s", (System.nanoTime() - t) / 1e9)
      out
    }
    val timedStart = System.nanoTime()
    var pairs: DataFrame = null
    var qual: DataFrame = null
    var exactRows: Array[org.apache.spark.sql.Row] = Array.empty
    var flagged: Set[Long] = Set.empty
    var vecPairs: DataFrame = null
    var unionQual: DataFrame = null
    var passS = 0.0
    var batchSecs = 0.0
    // the timed phase: the full pass, then the incremental batches
    trace.window {
      passS = trace.op("pass", "curate") {
        report.attempt("curation pass") {
          qual = step("tokenize")(quality(corpus).localCheckpoint())
          exactRows = step("exact")(Dedup.exact(corpus).filter(col("n_copies") > 1).collect())
          step("lsh_index")(Dedup.buildLshIndex(corpus, idx))
          pairs = step("minhash_pairs")(Dedup.minhashPairs(corpus).select("doc_a", "doc_b").localCheckpoint())
          step("components")(Dedup.buildComponentState(pairs, state, StateBuckets))
          flagged = step("decontaminate")(Dedup.decontaminate(corpus, bench)
            .select("doc_id").distinct().collect().map(_.getLong(0)).toSet)
          vecPairs = step("cosine_pairs")(
            Similarity.cosinePairs(Tables.embeddings(spark, ctx.data), CosineThreshold)
              .select(col("vec_a").as("a"), col("vec_b").as("b")).localCheckpoint())
          step("survivors_export")(exportCorpus(spark, corpus, qual, state, exportPath))
        }
      }._2
      report.sample("pass_s", passS)

      unionQual = qual
      for ((lo, hi) <- batches(ctx)) {
        val batch = all.filter(col("doc_id") >= lo && col("doc_id") < hi)
        val (_, secs) = trace.op("batch", s"$lo-$hi") {
          report.attempt(s"batch $lo-$hi") {
            val found = step("batch_lookup") {
              // near dups of the standing index plus those inside the batch
              val probe = Dedup.minhashIncrementalIndexed(batch, idx)
                .select(col("doc_id").as("doc_a"), col("corpus_id").as("doc_b"))
              val inner = Dedup.minhashPairs(batch).select("doc_a", "doc_b")
              probe.unionByName(inner)
                .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
                  greatest(col("doc_a"), col("doc_b")).as("doc_b"))
                .distinct().localCheckpoint()
            }
            step("batch_index_append")(Dedup.appendToLshIndex(batch, idx))
            step("batch_state_merge")(Dedup.mergeComponentState(found, state))
            unionQual = unionQual.unionByName(quality(batch)).localCheckpoint()
            step("batch_survivors")(Dedup.survivorsFromState(spark, state, unionQual)
              .filter(col("keep")).count())
          }
        }
        report.sample("op_s", secs)
        batchSecs += secs
      }
    }
    val docs = nCorpus + batches(ctx).map { case (lo, hi) => hi - lo }.sum
    report.sample("ops_per_s", docs / (passS + batchSecs))
    report.extra("timed_s") = (System.nanoTime() - timedStart) / 1e9
    report.extra("index_bytes") = Files.bytes(idx) + Files.bytes(state)
    report.extra("export_bytes") = Files.bytes(exportPath)
    if (pairs == null) return

    // ── correctness (untimed) ──
    // planted groups in file order: a near group's first member is the
    // doc its copies were made from
    val groups = planted.collect().groupBy(_.getString(0)).map { case (k, rows) =>
      k -> rows.groupBy(_.getLong(1)).values.map(_.map(_.getLong(2)).toSeq).toSeq
    }.withDefaultValue(Nil)
    def pairsOf(gs: Seq[Seq[Long]]): Set[(Long, Long)] =
      gs.flatMap(g => g.tail.map(x => (math.min(g.head, x), math.max(g.head, x)))).toSet
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val keeperCopies = exactRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactWant = groups("exact").filter(_.max < nCorpus)
    val exactHit = exactWant.count(g => keeperCopies.get(g.min).exists(_ >= g.size))
    report.check("exact-duplicate recall is 1.0", exactHit == exactWant.size,
      s"$exactHit of ${exactWant.size} planted groups")
    val nearWant = pairsOf(groups("near")).filter(_._2 < nCorpus)
    val nearHit = (nearWant & found).size
    report.check("near-duplicate recall ≥ 0.95", nearHit >= 0.95 * nearWant.size,
      s"$nearHit of ${nearWant.size} planted pairs")
    val leaked = groups("leak").flatten.toSet
    report.check("every leaked bench doc is flagged", leaked.subsetOf(flagged),
      s"${(leaked & flagged).size} of ${leaked.size} flagged")
    val vecWant = pairsOf(groups("vec"))
    val vecHit = (vecWant & vecPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet).size
    report.check("near-duplicate vector recall ≥ 0.95", vecHit >= 0.95 * vecWant.size,
      s"$vecHit of ${vecWant.size}")
    report.sample("operators.dedup.pairs", found.size.toDouble)
    report.sample("operators.dedup.planted_recall",
      (nearHit + vecHit).toDouble / math.max(1, nearWant.size + vecWant.size))

    // incremental state ≡ a from-scratch pass over the union
    val union = all.filter(col("doc_id") < batches(ctx).map(_._2).max)
    val scratch = s"${ctx.work}/cc-scratch"
    Dedup.buildComponentState(Dedup.minhashPairs(union).select("doc_a", "doc_b"), scratch, StateBuckets)
    def survivorsOf(path: String) =
      Dedup.survivorsFromState(spark, path, unionQual).select("doc_id", "group_id", "keep")
    val (inc, full) = (Hash.of(survivorsOf(state)), Hash.of(survivorsOf(scratch)))
    report.check("incremental survivors equal a from-scratch pass", inc == full,
      s"incremental $inc, from scratch $full")
    // the export holds each kept doc once, in one gap-free training order
    val exported = spark.read.parquet(exportPath)
    val e = exported.agg(count(lit(1)), countDistinct(col("doc_id")), min(col("pos")), max(col("pos")))
      .head()
    report.check("export is a gap-free order of distinct docs",
      e.getLong(0) > 0 && e.getLong(0) == e.getLong(1) && e.getLong(2) == 0L &&
        e.getLong(3) == e.getLong(0) - 1,
      s"${e.getLong(0)} rows, ${e.getLong(1)} distinct docs, pos ${e.get(2)}..${e.get(3)}")
    report.extra("export_hash") = Hash.of(exported)
  }
}
