package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.fixtures.TranscriptGen
import graft.fixtures.TranscriptGen.GenConfig
import graft.pipeline.Selection

/** Seeded input cache. Inputs are generated outside every timed region
  * and outside `setup_s`, under a key of the generator version, the
  * seed and the size, so an input made by another generator or for
  * another seed can never be read as this run's corpus.
  *
  * Goldens come from the generator's own knowledge of what it composed
  * (`TranscriptGen.goldenDataset`), never from the extractor; the
  * selection predicate only decides which of them are eligible. */
object Inputs {

  private def cacheDir(work: String, key: String): Path =
    Paths.get(work, "inputs", s"g${TranscriptGen.GeneratorVersion}", key)

  /** Build `dir` with `make` unless a completed copy exists. Keeps the
    * cache to the few most recently used inputs. */
  private def cached(dir: Path)(make: String => Unit): String = {
    val done = dir.resolve("_DONE")
    if (!Files.exists(done)) {
      Files.createDirectories(dir.getParent)
      Fs.delete(dir)
      make(dir.toString)
      Files.write(done, Array.emptyByteArray)
    }
    Files.setLastModifiedTime(done,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    Fs.keepNewest(dir.getParent, 6)
    dir.toString
  }

  /** Turns and their goldens from one generator pass (the rows of
    * `TranscriptGen.dataset` and `TranscriptGen.goldenDataset`), keeping
    * the first `keep(i)` turns of conversation i; persisted until `use`
    * has written what it needs. */
  private def generate(spark: SparkSession, cfg: GenConfig,
      keep: Long => Int = _ => Int.MaxValue)(use: (DataFrame, DataFrame) => Unit): Unit = {
    import spark.implicits._
    val both = spark.range(0, cfg.nConvs.toLong)
      .flatMap(i => TranscriptGen.turnsForConv(cfg, i).take(keep(i)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try use(both.select("_1.*"), both.select("_2.*"))
    finally both.unpersist(blocking = true)
  }

  private def eligible(spark: SparkSession, turns: DataFrame,
      golden: DataFrame): DataFrame = {
    val keys = Selection.ingest(turns, TranscriptGen.WatermarkTs, spark)
      .select("conv_id", "turn_idx")
    golden.join(keys, Seq("conv_id", "turn_idx"), "left_semi")
  }

  /** `turns` with the number of eligible rows before each row in
    * `order` (column `before`). */
  private def eligibleBefore(spark: SparkSession, turns: DataFrame,
      order: Column*): DataFrame = {
    val e = Selection.ingest(turns, TranscriptGen.WatermarkTs, spark)
      .select(col("conv_id"), col("turn_idx"), lit(1L).as("e"))
    turns.join(e, Seq("conv_id", "turn_idx"), "left")
      .withColumn("before", coalesce(sum(coalesce(col("e"), lit(0L))).over(
        Window.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("e")
  }

  /** Bulk input: the generator's conversations in order, cut after the
    * `eligibleRows`-th eligible turn, so that the work does not depend on
    * the seed (conversation lengths are heavy-tailed). Which turns are
    * eligible does not depend on payload size, so the cut is found on
    * chat-sized payloads first. Written as `<dir>/turns` (16 files) and
    * `<dir>/golden`. */
  def bulk(spark: SparkSession, work: String, seed: Long, eligibleRows: Int,
      paraScale: Int): String =
    cached(cacheDir(work, s"bulk_s${seed}_e${eligibleRows}_p$paraScale")) { dir =>
      // conversations holding 2.5 turns per eligible turn wanted (about
      // two in three turns are eligible, fewer when long conversations
      // fall on an ineligible case type)
      val probe = GenConfig(nConvs = 0, seed = seed)
      val n = Iterator.from(0).map(i => TranscriptGen.convLength(probe, i.toLong))
        .scanLeft(0L)(_ + _).takeWhile(_ < eligibleRows * 5L / 2).size
      var last = (0, 0) // (index of the last conversation, turns kept of it)
      generate(spark, GenConfig(nConvs = n, seed = seed)) { (turns, _) =>
        val r = eligibleBefore(spark, turns, col("conv_id"), col("turn_idx"))
          .filter(col("before") < eligibleRows)
          .withColumn("i", substring(col("conv_id"), 6, 8).cast("int"))
          .groupBy("i").count().orderBy(col("i").desc).head()
        last = (r.getInt(0), r.getLong(1).toInt)
      }
      generate(spark, GenConfig(nConvs = last._1 + 1, seed = seed, paraScale = paraScale),
          i => if (i == last._1) last._2 else Int.MaxValue) { (turns, golden) =>
        turns.repartition(16).write.parquet(s"$dir/turns")
        eligible(spark, turns, golden).repartition(4).write.parquet(s"$dir/golden")
      }
      require(spark.read.parquet(s"$dir/golden").count() == eligibleRows,
        s"$n conversations hold fewer than $eligibleRows eligible turns")
    }

  /** Daily input, chat-sized payloads. The fresh rows, in ts order, are cut
    * into deltas of `deltaRows` eligible rows each (rows sharing a ts stay
    * in one delta, so a committed watermark never splits them); the first
    * `deltas` are the ones the cycles land, all of them feed the
    * extraction-only pass.
    *  - `<dir>/base`: the stale rows the source table starts with;
    *  - `<dir>/deltas/delta=<k>`: delta k's rows as ts-ordered files;
    *  - `<dir>/tombs/delta=<k>`: tombstones arriving with delta k, a
    *    seeded slice (1 in 50) of the rows of the one to three deltas
    *    before it, each stamped with a deletion time inside delta k;
    *  - `<dir>/golden`: eligible goldens with their delta. */
  def daily(spark: SparkSession, work: String, seed: Long, nConvs: Int,
      deltaRows: Int, deltas: Int): String =
    cached(cacheDir(work, s"daily_s${seed}_n${nConvs}_e${deltaRows}_d$deltas")) { dir =>
      generate(spark, GenConfig(nConvs = nConvs, seed = seed)) { (turns, golden) =>
        val wm = lit(TranscriptGen.WatermarkTs)
        turns.filter(col("ts") <= wm).repartition(4).write.parquet(s"$dir/base")
        val all = eligibleBefore(spark, turns.filter(col("ts") > wm),
            col("ts"), col("conv_id"), col("turn_idx"))
          .withColumn("delta", (min(col("before")).over(Window.partitionBy("ts")) /
            lit(deltaRows.toLong)).cast("int"))
          .drop("before")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the last ts of each delta: tombstones arriving with it are
        // stamped up to a minute before
        val ends = all.groupBy("delta").agg(max(unix_millis(col("ts")))).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        require(ends.size > deltas,
          s"$nConvs conversations hold too few fresh rows for $deltas deltas of $deltaRows")
        all.repartition(col("delta")).sortWithinPartitions("ts")
          .write.partitionBy("delta").parquet(s"$dir/deltas")
        val h = xxhash64(lit(seed), col("conv_id"), col("turn_idx"))
        val arrives = col("delta") + lit(1) + pmod(h, lit(3L)).cast("int")
        val deletedAt = ends.foldLeft(lit(null).cast("long")) { case (rest, (k, end)) =>
          when(arrives === k, lit(end)).otherwise(rest) }
        all.filter(pmod(h, lit(50L)) === 0 && arrives < deltas)
          .select(col("conv_id"), col("turn_idx"),
            timestamp_millis(deletedAt - pmod(shiftright(h, 8), lit(60L)) * 1000L).as("ts"),
            arrives.as("delta"))
          .repartition(col("delta")).write.partitionBy("delta").parquet(s"$dir/tombs")
        eligible(spark, all.drop("delta"), golden)
          .join(all.select("conv_id", "turn_idx", "delta"), Seq("conv_id", "turn_idx"))
          .repartition(4).write.parquet(s"$dir/golden")
        all.unpersist(blocking = true)
        require(spark.read.parquet(s"$dir/golden").filter(col("delta") === deltas - 1)
          .count() >= deltaRows, s"$nConvs conversations hold too few fresh rows " +
          s"for $deltas deltas of $deltaRows")
      }
    }
}

object Fs {

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def parquetFiles(p: Path): Seq[Path] =
    files(p).filter(_.getFileName.toString.endsWith(".parquet"))

  def bytes(p: Path): Long = parquetFiles(p).map(Files.size).sum

  /** Keep the `n` most recently used entries of a cache directory. */
  def keepNewest(dir: Path, n: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    val entries = try s.iterator().asScala.toList finally s.close()
    def used(p: Path) = {
      val d = p.resolve("_DONE")
      if (Files.exists(d)) Files.getLastModifiedTime(d).toMillis else Long.MaxValue
    }
    entries.sortBy(p => -used(p)).drop(n).foreach(delete)
  }

  /** Append the parquet files of `from` to `to` under fresh names, as an
    * upstream writer landing a new delta would. */
  def appendFiles(from: Path, to: Path, prefix: String): Unit = {
    Files.createDirectories(to)
    parquetFiles(from).zipWithIndex.foreach { case (f, i) =>
      Files.copy(f, to.resolve(s"$prefix-$i.parquet"))
    }
  }
}
