package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.fixtures.TranscriptGen
import graft.fixtures.TranscriptGen.GenConfig
import graft.table.CheckpointStore

/** The run-level `<tableRoot>/metrics` row reports exactly what the job
  * returned, on the success and the failure path of both modes. */
class RunMetricsSpec extends SparkSpec {

  private val cfg = GenConfig(nConvs = 10)

  private def freshTable(): (String, CheckpointStore) = {
    val root = tmpDir("graft-metrics-")
    val store = new CheckpointStore(root)
    store.seed("cs", "ingest", TranscriptGen.WatermarkTs)
    store.seed("cs", "delete", TranscriptGen.WatermarkTs)
    (root, store)
  }

  private def assertRowMatches(root: String, mode: String,
      res: ExtractionJob.JobResult): Unit = {
    val rows = spark.read.parquet(s"$root/metrics")
      .filter(col("mode") === mode).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("status") == res.status)
    assert(r.getAs[Long]("rows_read") == res.rowsRead)
    assert(r.getAs[Long]("rows_written") == res.rowsWritten)
    assert(r.getAs[Int]("chunks_committed") == res.chunksCommitted)
    assert(r.getAs[Timestamp]("watermark") == res.watermark)
  }

  test("ingest COMPLETED: metrics row equals the JobResult") {
    val (root, store) = freshTable()
    val turns = TranscriptGen.dataset(spark, cfg).toDF()
    val res = ExtractionJob.run(spark, turns, root, nChunks = 2)
    assert(res.status == "COMPLETED" && res.rowsWritten > 0)
    assert(res.watermark == store.read("cs", "ingest"))
    assertRowMatches(root, "ingest", res)
  }

  test("ingest FAILED (poison payload): metrics row equals the JobResult") {
    val (root, store) = freshTable()
    val poison = udf((t: String, idx: Int) =>
      if (idx == 5) sys.error("poison payload") else t)
    val turns = TranscriptGen.dataset(spark, cfg).toDF()
      .withColumn("text", poison(col("text"), col("turn_idx")))
    val res = ExtractionJob.run(spark, turns, root, nChunks = 1)
    assert(res.status == "FAILED" && res.error.isDefined)
    assert(res.watermark == store.read("cs", "ingest"))
    assertRowMatches(root, "ingest", res)
  }

  test("delete COMPLETED: metrics row equals the JobResult") {
    val (root, store) = freshTable()
    val turns = TranscriptGen.dataset(spark, cfg).toDF()
    val res = ExtractionJob.runDelete(spark, turns, root)
    assert(res.status == "COMPLETED" && res.rowsWritten > 0)
    assert(res.watermark == store.read("cs", "delete"))
    assertRowMatches(root, "delete", res)
  }

  test("delete FAILED (tombstones without conv_id): metrics row equals the JobResult, delete watermark unchanged") {
    val (root, store) = freshTable()
    val before = store.read("cs", "delete")
    val turns = TranscriptGen.dataset(spark, cfg).toDF().drop("conv_id")
    val res = ExtractionJob.runDelete(spark, turns, root)
    assert(res.status == "FAILED" && res.error.isDefined)
    assert(res.chunksCommitted == 0 && res.rowsWritten == 0)
    assert(res.watermark == before)
    assert(store.read("cs", "delete") == before)
    assertRowMatches(root, "delete", res)
  }
}
