package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import graft.functions.Dedup

/** Runs a near-dup pair generator as a JOB and discloses its silent
  * cap: every generator in [[graft.functions.Dedup]] drops candidate
  * buckets above an occupancy cap (the 100-TB bound on the bucket-local
  * self-join), and at corpus scale the dropped mass is exactly the
  * boilerplate/template clusters a user might expect dedup to catch —
  * so the drop counts land in a metrics table next to the run, the same
  * never-throw discipline as [[ExtractionJob.run]]'s metrics row
  * (reference analog: the run-summary notification that reports counts
  * without failing the batch, SlackNotification.java:73-105).
  *
  * Metrics schema (`<tableRoot>/dedup_metrics`, append):
  * (run_id, operator, output_rows, buckets, mega_buckets_dropped,
  * docs_in_mega_buckets, duration_sec). `output_rows` is the run's
  * primary result count — near-dup PAIRS for the pair generators,
  * DROPPED DOC ids for the end-to-end [[runSimhashDedup]]; the
  * `operator` column says which. `buckets` is −1 for the flatMapGroups
  * jaccard path (its accumulators see only dropped groups; bucket
  * totals would need a second aggregation over the exchange) and its
  * drop counts are at-least-once under task retries — a metrics
  * caveat, not a correctness one.
  */
object DedupJob {

  final case class DedupRunResult(runId: String, operator: String,
      outputRows: Long, buckets: Long, megaBucketsDropped: Long,
      docsInMegaBuckets: Long, durationSec: Double)

  /** Shared run scaffolding: time `body`, release the operators'
    * single-scan caches, write the disclosure row. `body` returns
    * (output_rows, buckets, mega_buckets_dropped, docs_in_mega_buckets). */
  private def recordedRun(spark: SparkSession, tableRoot: String,
      operator: String)(body: => (Long, Long, Long, Long)): DedupRunResult = {
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val t0 = System.nanoTime()
    // release the operators' single-scan caches when the run completes
    // (success or failure) — a long-lived driver running dedup over
    // changing inputs would otherwise accumulate one entry per input.
    // SCOPED: this drains only the relations THIS run persisted, so a
    // concurrent dedup job on another driver thread keeps its caches
    val (outputRows, buckets, mega, docs) = Dedup.withCacheScope(body)
    val res = DedupRunResult(runId, operator, outputRows, buckets, mega,
      docs, (System.nanoTime() - t0) / 1e9)
    ExtractionJob.writeMetrics(s"$tableRoot/dedup_metrics", runId) {
      import spark.implicits._
      Seq((res.runId, res.operator, res.outputRows, res.buckets,
        res.megaBucketsDropped, res.docsInMegaBuckets, res.durationSec))
        .toDF("run_id", "operator", "output_rows", "buckets",
          "mega_buckets_dropped", "docs_in_mega_buckets", "duration_sec")
    }
    res
  }

  /** simhash / embedding / lsh near-dups: exact observation-based
    * accounting. The caller builds the pairs DataFrame against the
    * provided Observation (e.g. `Dedup.simhashPairs(df, "text", "id",
    * maxHamming = 3, stats = Some(obs))`). An all-dropped or empty run
    * reads its bucket metrics as 0 ([[ExtractionJob.metric]]). */
  def runObserved(spark: SparkSession, tableRoot: String, operator: String,
      build: Observation => DataFrame): DedupRunResult = {
    val obs = Observation()
    recordedRun(spark, tableRoot, operator) {
      val pairs = build(obs).count()
      val row = obs.get
      def m(k: String) = ExtractionJob.metric(row, k)
      (pairs, m("buckets"), m("mega_buckets_dropped"),
        m("docs_in_mega_buckets"))
    }
  }

  /** ngramJaccardPairs: accumulator-based accounting (the bucket-local
    * flatMapGroups path has no declarative aggregation to observe). */
  def runJaccard(spark: SparkSession, tableRoot: String, operator: String,
      build: Dedup.BucketAccounting => DataFrame): DedupRunResult = {
    val acc = Dedup.BucketAccounting(spark)
    recordedRun(spark, tableRoot, operator) {
      (build(acc).count(), -1L, acc.megaBucketsDropped.value,
        acc.docsInMegaBuckets.value)
    }
  }

  /** End-to-end content near-dedup over a document frame (the CLI's
    * `--mode dedup`): simhash pairs at the ≤3-bit operating point →
    * transitive clusters → drop list (every cluster member except its
    * min-id keeper) written to `<tableRoot>/dedup_drops`, with the
    * occupancy-drop disclosure row in the metrics table
    * (output_rows = dropped doc count). The observation fills during
    * cluster propagation's own actions — no extra pass over the corpus. */
  def runSimhashDedup(spark: SparkSession, tableRoot: String,
      docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DedupRunResult =
    runObserved(spark, tableRoot, "simhash-cluster-dedup", { obs =>
      import org.apache.spark.sql.functions.col
      val pairs = Dedup.simhashPairs(docs, textCol, idCol,
        maxHamming, stats = Some(obs))
      val drops = Dedup.dupClusters(pairs, "a", "b")
        .filter(col("id") =!= col("cluster"))
        .select(col("id").as("drop_id"))
      drops.write.mode("overwrite").parquet(s"$tableRoot/dedup_drops")
      spark.read.parquet(s"$tableRoot/dedup_drops")
    })
}
