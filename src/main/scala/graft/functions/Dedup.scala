package graft.functions

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Deduplication operators for the training-data pipeline. All are
  * shuffle-on-key group/join shapes — no pairwise O(n²) stage ever
  * materializes more than LSH-bucket-local candidates, so every
  * operator here survives a 100× scale-up.
  */
object Dedup {

  /** Mega-bucket drops are a silent coverage cap unless disclosed: at
    * corpus scale the dropped mass is exactly the boilerplate/template
    * clusters a user might expect dedup to catch. Each pair generator
    * can account its drops — the declarative generators (simhash,
    * embedding) through a named [[Observation]] (exact, filled by the
    * same action that runs the query, no extra scan), the flatMapGroups
    * jaccard path through task-side accumulators (at-least-once under
    * task retries — a metrics caveat, not a correctness one).
    * [[graft.pipeline.DedupJob]] turns either into a metrics-table row.
    */
  final case class BucketAccounting(megaBucketsDropped: LongAccumulator,
      docsInMegaBuckets: LongAccumulator)

  object BucketAccounting {
    def apply(spark: SparkSession): BucketAccounting = BucketAccounting(
      spark.sparkContext.longAccumulator("graft.dedup.mega_buckets_dropped"),
      spark.sparkContext.longAccumulator("graft.dedup.docs_in_mega_buckets"))
  }

  /** Registry of the relations this module persists (the single-scan
    * caches below). The CacheManager keys entries by analyzed plan, so
    * REPEATED runs of one query reuse one entry — but distinct inputs
    * (daily increments, different snapshots) each add one, and callers
    * hold no handle to release them. Job wrappers scope their run with
    * [[withCacheScope]] ([[graft.pipeline.DedupJob]] does), which
    * drains only the relations THAT run persisted — a process-global
    * drain would unpersist the mid-flight caches of a concurrently
    * running dedup job on another driver thread (correct results, but
    * the multi-consumer corpus re-scans the persist exists to prevent).
    * Relations persisted outside any scope land in the global registry
    * for [[releaseCaches]] (the bench's cold-state sweep). Releasing is
    * always safe because persist is an optimization — unlike a
    * localCheckpoint, an unpersisted relation recomputes from lineage. */
  private val persistedRelations =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Driver-thread-scoped registry: operator construction (where
    * persist happens) runs on the calling thread, so a plain (NOT
    * inheritable) ThreadLocal routes each job's persists to its own
    * scope. DynamicVariable is deliberately avoided — it is backed by
    * InheritableThreadLocal, so any thread spawned while a scope is
    * active would permanently inherit that scope's queue and, after the
    * scope drains, route its persists to a dead queue nothing releases. */
  private val scopeRelations =
    new ThreadLocal[Option[
      java.util.concurrent.ConcurrentLinkedQueue[DataFrame]]] {
      override def initialValue():
          Option[java.util.concurrent.ConcurrentLinkedQueue[DataFrame]] = None
    }

  private[graft] def trackPersisted(df: DataFrame): DataFrame = {
    scopeRelations.get().getOrElse(persistedRelations).add(df)
    df
  }

  /** Run `body` with a private cache registry and unpersist exactly the
    * relations it persisted on exit — concurrent dedup runs on other
    * threads keep their caches. Nests: an inner scope restores the
    * outer one on exit. */
  def withCacheScope[T](body: => T): T = {
    val prev = scopeRelations.get()
    val q = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    scopeRelations.set(Some(q))
    try body
    finally {
      scopeRelations.set(prev)
      drain(q)
    }
  }

  /** Unpersist every UNSCOPED relation a dedup operator persisted since
    * the last release (never touches caller caches or scoped runs —
    * only this module's global registry). */
  def releaseCaches(): Unit = drain(persistedRelations)

  private def drain(
      q: java.util.concurrent.ConcurrentLinkedQueue[DataFrame]): Unit = {
    var df = q.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = q.poll()
    }
  }

  /** The three observation metrics every declarative generator emits:
    * candidate-bucket count, mega-buckets dropped, rows inside them. */
  private def observeBuckets(counts: DataFrame, stats: Option[Observation],
      maxBucket: Int): DataFrame =
    stats.fold(counts)(o => counts.observe(o,
      count(lit(1)).as("buckets"),
      sum(when(col("n") > maxBucket, 1L).otherwise(0L))
        .as("mega_buckets_dropped"),
      sum(when(col("n") > maxBucket, col("n")).otherwise(0L))
        .as("docs_in_mega_buckets")))

  /** THE DEFAULT exact-dedup path: group by the 128-bit md5 fingerprint
    * of the canonical text instead of the text itself — the shuffle
    * carries 32 bytes per row, not the payload. At 100 TB that is the
    * difference between shuffling the corpus and shuffling 3 GB of
    * keys. (Content-hash grouping; md5 collisions are not a practical
    * concern for non-adversarial dedup — swap for SHA-256 if they are.)
    */
  def exactGroupsByFingerprint(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    df.select(col(idCol), md5(TextFunctions.normText(col(textCol))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Exact dedup keyed by the canonical text ITSELF (min id wins —
    * deterministic), with the group size. Returns the readable norm_key,
    * which means the full normalized payload rides the shuffle — use
    * [[exactGroupsByFingerprint]] (the default) unless the key text is
    * needed in the output; this variant exists as the correctness
    * cross-check for the fingerprint path (q25 vs q39).
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextFunctions.normText(col(textCol)).as("norm_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** THE keeper rule, defined once: per-fingerprint rank `rn`
    * (1 = keeper, min-id-wins) over a frame that ALREADY carries `fp`.
    * Callers stage `fp` (and any other per-doc signals) in their own
    * Project BEFORE ranking, so the window's exchange shuffles the
    * 32-byte key plus the signal columns — never the payload text. */
  def rankByFingerprint(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("rn", row_number().over(
      Window.partitionBy(col("fp")).orderBy(col(idCol))))

  /** [[rankByFingerprint]] with the fingerprint staged from the text
    * column (Catalyst prunes the text below the exchange when no
    * downstream operator reads it, as in [[exactDropIds]]). */
  def withFingerprintRank(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    rankByFingerprint(
      df.withColumn("fp", md5(TextFunctions.normText(col(textCol)))), idCol)

  /** Ids to drop under exact dedup (everything but the keeper). */
  def exactDropIds(df: DataFrame, textCol: String, idCol: String): DataFrame =
    withFingerprintRank(df.select(col(idCol), col(textCol)), textCol, idCol)
      .filter(col("rn") > 1)
      .select(col(idCol).as("drop_id"))

  /** Incremental ingestion dedup: classify each `batch` row against the
    * fingerprint `index` of the already-ingested corpus —
    * `dup_of_corpus` if its fingerprint is in the index,
    * `dup_in_batch` if the fingerprint first occurs at a smaller id
    * within the batch (and is not in the index), else `new`. This is
    * the continuous-crawl shape: per-batch cost is O(batch) plus one
    * join against a 16-byte/doc index instead of a full-corpus
    * re-dedup. Scale shape: only (fp, id) pairs ride the exchanges —
    * the index side is distinct fingerprints, the in-batch keeper is a
    * map-side-combined `groupBy(fp).min(id)`, and callers keep the
    * payload out entirely (pass a pre-fingerprinted projection). */
  def incrementalDedup(batch: DataFrame, index: DataFrame,
                       fpCol: String, idCol: String): DataFrame = {
    val keeper = batch.groupBy(col(fpCol)).agg(min(col(idCol)).as("_keep_id"))
    val idx = index.select(col(fpCol)).distinct()
      .withColumn("_in_corpus", lit(1))
    batch.join(keeper, Seq(fpCol))
      .join(idx, Seq(fpCol), "left")
      .select(col(idCol), col(fpCol),
        when(col("_in_corpus") === 1, lit("dup_of_corpus"))
          .when(col(idCol) =!= col("_keep_id"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"))
  }

  /** MinHash-LSH near-dup buckets: signature → band keys → explode →
    * group by (band, key). Returns candidate buckets holding
    * 2..maxBucket docs with their membership lists — the scale path for
    * near-dup detection (bucket-local verification replaces all-pairs).
    *
    * Occupancy-bounded like every candidate stage in this family, and
    * for an extra reason here: the membership list is a `collect_set`,
    * a single in-memory aggregation buffer per bucket — on a mega
    * bucket (boilerplate mass sharing one band key) that buffer grows
    * with corpus size and OOMs the task. So counts aggregate FIRST
    * (fixed-size buffers), the 2..maxBucket filter prunes via a join —
    * broadcast when the surviving bucket list is small, else a reused
    * exchange of the banded relation — and only surviving buckets' ids
    * are collected, so every collect_set buffer (partial included) is
    * bounded by maxBucket members.
    */
  def minhashLshBuckets(df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, rows: Int = 4,
      maxBucket: Int = MaxBucketForPairs): DataFrame = {
    // persisted because TWO subtrees consume it (the occupancy counts
    // and the membership join): without the cache each consumer re-scans
    // the source and re-computes the k-hash signature over the full
    // corpus text — at 100 TB that is two text passes for one logical
    // one. The cached relation is (id, band, band_key) — tens of bytes
    // per row, nothing payload-sized — and the CacheManager keys on the
    // analyzed plan, so repeated runs of the same query reuse one entry.
    // fanned out before the tokenize/md5-sig map stage (Exec note), and
    // the sig's native kernel dedups tokens internally — no
    // array_distinct pass
    val banded = trackPersisted(
      Exec.fanOutForCpu(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        TextFunctions.minhashSigFromTokens(col("toks"), k).as("sig"))
      .select(col(idCol),
        posexplode(TextFunctions.bandKeysFromSig(col("sig"), k, rows))
          .as(Seq("band", "band_key")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ok = banded.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
    banded.join(ok, Seq("band", "band_key"))
      .groupBy(col("band"), col("band_key"), col("n"))
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
      .select(col("band"), col("band_key"), col("ids"), col("n"))
  }

  /** Candidate pairs from LSH buckets, deduped across bands, verified
    * with exact n-gram Jaccard ≥ threshold. Pair blow-up is bounded by
    * bucket sizes, not corpus size.
    */
  /** Mega-buckets (band keys shared by a large fraction of the corpus)
    * are degenerate for near-dup detection and explode quadratically —
    * standard LSH practice is to drop them. 64 keeps pair counts
    * bucket-bounded at any corpus size. */
  val MaxBucketForPairs = 64

  /** Bucket-local verification (the 100 TB shape): each doc's shingle
    * set shuffles ONCE per (doc, band) — bands × corpus bytes, a fixed
    * 4× of the shingle table — instead of once per candidate pair
    * (pair-join shuffle amplification: round 1 spent 203 s here at
    * sf0.1). Candidate generation and exact verification happen inside
    * the ≤maxBucket-member LSH bucket via flatMapGroups; a pair
    * surviving in several bands yields identical (a, b, jaccard) rows,
    * deduped at the end (tiny — only survivors).
    *
    * `hashShingles = true` is the further scale lever: each shingle is
    * FNV-1a-hashed to a 64-bit long BEFORE the shuffle — 8 bytes per
    * shingle instead of the n-gram text (~3-5× less shuffle volume at
    * 3-grams), identical Jaccard up to hash collisions (~2⁻⁶⁴ per
    * comparison). Oracle-pinned by q45 (the DuckDB side hashes its
    * grams with the same FNV arithmetic).
    *
    * `fastMinhash = true` swaps the md5 signature/band hashing for
    * codegen'd xxhash64 (8-byte band keys, ~4× less signature CPU) —
    * a different but equally valid MinHash family, so candidates
    * differ hash-for-hash while the verified output stays exact
    * Jaccard; md5 stays the default because the DuckDB oracles
    * reproduce it bit-exactly. Spec-pinned on planted near-dups.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.7,
      k: Int = 16, rows: Int = 4,
      maxBucket: Int = MaxBucketForPairs,
      hashShingles: Boolean = false,
      stats: Option[BucketAccounting] = None,
      fastMinhash: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val idType = df.schema(idCol).dataType
    val ord = idOrdering(idType)
    // staged Projects: tokens → (shingles, signature) → band keys — each
    // an attribute, so nothing re-tokenizes (TextFunctions staging note).
    // Null text yields a null token array but NON-null shingles ([""] —
    // greatest() skips the null count) and non-null band keys, so two
    // null-text docs would otherwise "verify" at jaccard 1.0; dropping
    // null-toks/null-id rows BEFORE the group stage reproduces the old
    // declarative path's silent null-jaccard exclusion.
    // fanned out before the tokenize/shingle/md5-sig map stage (Exec
    // note: the single-row-group bench scan made this stage a serial
    // straggler); the hashed-shingle path fuses n-gram + FNV + dedup in
    // one native kernel so gram strings never materialize, and the
    // native md5 sig dedups tokens internally — no array_distinct pass
    val staged = Exec.fanOutForCpu(
        df.select(col(idCol).cast("string").as("id"), col(textCol).as("_txt")))
      .select(col("id"), TextFunctions.tokens(col("_txt")).as("toks"))
      .filter(col("id").isNotNull && col("toks").isNotNull)
      .select(col("id"),
        (if (hashShingles)
          TextFunctions.hashedShinglesFromTokens(col("toks"), n)
        else
          TextFunctions.shinglesFromTokens(col("toks"), n)).as("sh"),
        (if (fastMinhash)
          TextFunctions.minhashSigFromTokensFast(array_distinct(col("toks")), k)
        else
          TextFunctions.minhashSigFromTokens(col("toks"), k))
          .as("sig"))
    // band keys ride the group stage as strings on both hash families
    // (a cast long for the fast path — still ≤20 bytes vs 32-hex md5)
    val bandKeys =
      if (fastMinhash)
        transform(TextFunctions.bandKeysFromSigFast(col("sig"), k, rows),
          _.cast("string"))
      else TextFunctions.bandKeysFromSig(col("sig"), k, rows)
    val banded = staged
      .select(col("id"), col("sh"),
        posexplode(bandKeys).as(Seq("band", "band_key")))
    val pairs =
      if (hashShingles)
        banded
          .as[(String, Seq[Long], Int, String)]
          .groupByKey { case (_, _, band, key) => (band, key) }
          .flatMapGroups { (_: (Int, String), m: Iterator[(String, Seq[Long], Int, String)]) =>
            bucketPairs(m, maxBucket, threshold, ord, stats)
          }
      else
        banded
          .as[(String, Seq[String], Int, String)]
          .groupByKey { case (_, _, band, key) => (band, key) }
          .flatMapGroups { (_: (Int, String), m: Iterator[(String, Seq[String], Int, String)]) =>
            bucketPairs(m, maxBucket, threshold, ord, stats)
          }
    pairs
      .toDF("a", "b", "jaccard")
      .distinct()
      .select(col("a").cast(idType).as("a"), col("b").cast(idType).as("b"),
        col("jaccard"))
  }

  /** In-bucket candidate generation + exact Jaccard verification over
    * one LSH bucket's members, generic in the shingle element type.
    * Mega-buckets (> maxBucket) are degenerate — dropped, as in the
    * declarative path; the group is capped BEFORE materializing. */
  private def bucketPairs[T](members: Iterator[(String, Seq[T], Int, String)],
      maxBucket: Int, threshold: Double, ord: Ordering[String],
      stats: Option[BucketAccounting] = None): Iterator[(String, String, Double)] = {
    // explicit bounded pull: consuming via take() and then reading the
    // same iterator again is documented-undefined on scala.Iterator —
    // this loop leaves `members` positioned exactly at the first
    // un-pulled element with defined semantics
    val buf = Array.newBuilder[(String, Seq[T], Int, String)]
    var pulled = 0
    while (pulled <= maxBucket && members.hasNext) {
      buf += members.next(); pulled += 1
    }
    val docs = buf.result()
    if (docs.length < 2 || docs.length > maxBucket) {
      if (docs.length > maxBucket) stats.foreach { acc =>
        // drain the rest of the group (count only — nothing materializes)
        // so the disclosure is the bucket's TRUE (doc, band) membership,
        // not the truncated maxBucket+1 peek
        var rest = 0L
        while (members.hasNext) { members.next(); rest += 1 }
        acc.megaBucketsDropped.add(1L)
        acc.docsInMegaBuckets.add(docs.length.toLong + rest)
      }
      Iterator.empty
    } else {
      val sorted = docs.sortBy(_._1)(ord)
      val sets = sorted.map(d => d._2.toSet)
      for {
        i <- sorted.indices.iterator
        j <- (i + 1 until sorted.length).iterator
        inter = (sets(i) & sets(j)).size.toDouble
        uni = (sets(i).size + sets(j).size - inter)
        jac = math.floor((if (uni > 0) inter / uni else 0.0) * 10000 + 0.5) / 10000
        if jac >= threshold
      } yield (sorted(i)._1, sorted(j)._1, jac)
    }
  }

  /** Pair-ordering for ids that rode the group stage as strings: must
    * match Spark's own `col("a") < col("b")` on the ORIGINAL type so the
    * (a, b) orientation is identical to the declarative join path.
    * Integral/decimal strings always re-parse; float/double compare via
    * java.lang.Double (NaN greatest — Spark's NaN ordering); everything
    * else compares in UTF8String binary order (code points), NOT Java
    * UTF-16 code-unit order, which flips for supplementary-plane chars. */
  private def idOrdering(
      idType: org.apache.spark.sql.types.DataType): Ordering[String] = {
    import org.apache.spark.sql.types._
    idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Ordering.by(_.toLong)
      case _: DecimalType => Ordering.by(BigDecimal(_))
      case FloatType | DoubleType =>
        (a: String, b: String) =>
          java.lang.Double.compare(java.lang.Double.parseDouble(a),
            java.lang.Double.parseDouble(b))
      case _ =>
        (a: String, b: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(a)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    }
  }

  /** SimHash near-dup: 64-bit simhash via the native Catalyst
    * expression, banded into 4×16-bit sub-keys — two docs within
    * Hamming distance 3 share at least one exact sub-key (pigeonhole),
    * so candidate generation is again a bucket join, then exact
    * Hamming verification.
    *
    * Bucket-bounded like the jaccard path: each band gives at most
    * 65,536 keys, so WITHOUT a cap bucket occupancy grows linearly with
    * corpus size and the self-join generates O(N²/65536) candidate pairs
    * — ~10¹³ at 10⁹ docs. Buckets with more than `maxBucket` members are
    * degenerate for near-dup detection (they hold boilerplate/template
    * mass, not pairwise near-dups) and are dropped, exactly as in
    * [[ngramJaccardPairs]]; the same `ok` aggregation also prunes
    * singleton buckets before the join, so the join input is only the
    * 2..maxBucket-member buckets.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = MaxBucketForPairs,
      stats: Option[Observation] = None): DataFrame = {
    // null text (null simhash) is EXPLICITLY excluded, mirroring the
    // jaccard path's null handling: implicit exclusion via null join
    // keys would work here, but the oracle must agree doc-for-doc and
    // an explicit filter prunes the rows before the explode (empty text
    // is NOT null — it hashes to 0 and buckets normally on both sides)
    val hashed = df.select(col(idCol).as("id"),
      Expressions.simhash64(TextFunctions.normText(col(textCol))).as("sh"))
      .filter(col("id").isNotNull && col("sh").isNotNull)
    // persisted: FOUR subtrees consume this relation (the occupancy
    // counts plus both sides of the self-join, each also re-deriving
    // `ok`), and AQE exchange reuse cannot merge them — the counts
    // subtree is column-pruned differently and the small join side goes
    // through a BroadcastExchange — so without the cache the corpus
    // text would be scanned and simhash64-hashed up to 4× per query
    // (round-3 PLANS.md showed exactly four redundant FileScans). The
    // cached rows are (id, sh:long, band:int, key:long) — 16 bytes of
    // hash per doc-band, never the payload.
    val banded = trackPersisted(hashed.select(col("id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sh"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "key")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val counts = banded.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n"))
    val ok = observeBuckets(counts, stats, maxBucket)
      .filter(col("n") >= 2 && col("n") <= maxBucket)
      .select(col("band"), col("key"))
    val kept = banded.join(ok, Seq("band", "key"))
    val l = kept.select(col("band"), col("key"),
      col("id").as("a"), col("sh").as("sh_a"))
    val r = kept.select(col("band"), col("key"),
      col("id").as("b"), col("sh").as("sh_b"))
    l.join(r, Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding near-dup pairs: cosine ≥ threshold, candidates bucketed
    * by a coarse partition key (`bucketCol`, e.g. a cluster/LSH label)
    * so the self-join is bucket-local.
    *
    * Bucket occupancy is capped like every other pair generator here:
    * a caller-supplied bucket key carries no occupancy guarantee (a
    * 256-bucket sign-LSH over 10⁹ vectors is O(N²/256) pairs — quadratic
    * at any real corpus size), so buckets holding more than `maxBucket`
    * members are dropped before the join. Size the bucketing itself so
    * real near-dup clusters stay under the cap: for sign-LSH that means
    * nPlanes ≈ log₂(N) (see [[lshNearDups]]).
    */
  /** Embedding pair verification is a codegen'd dot product (~100 ns),
    * ~100× cheaper than a shingle-set intersection, so the embedding
    * cap can sit higher than the text cap while still bucket-bounding
    * the join (≤ 256²/2 ≈ 33k dots per bucket). */
  val MaxEmbBucketForPairs = 256

  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
      bucketCol: String, threshold: Double,
      maxBucket: Int = MaxEmbBucketForPairs,
      stats: Option[Observation] = None): DataFrame = {
    // persisted for the same reason as the banded relations above: the
    // occupancy counts and both self-join sides (each re-deriving `ok`)
    // all consume this relation — without the cache the embeddings are
    // re-scanned and re-normalized up to 5× per query. The cached rows
    // are (id, bucket, unit vector): the reduced relation, already
    // pruned to the columns the join needs.
    // deliberately NOT fanned out: the per-row work here is native
    // codegen'd vector math (cheap), and an extra exchange costs more
    // than the map parallelism buys (measured on q41/q48)
    val v = trackPersisted(Ann.withNormalized(
        df.select(col(idCol).as("id"), col(bucketCol).as("bkt"),
          col(vecCol).as("_emb")),
        "_emb", "v")
      .select(col("id"), col("bkt"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val counts = v.groupBy(col("bkt")).agg(count(lit(1)).as("n"))
    val ok = observeBuckets(counts, stats, maxBucket)
      .filter(col("n") >= 2 && col("n") <= maxBucket)
      .select(col("bkt"))
    val kept = v.join(ok, "bkt")
    val l = kept.select(col("bkt"), col("id").as("a"), col("v").as("va"))
    val r = kept.select(col("bkt"), col("id").as("b"), col("v").as("vb"))
    l.join(r, "bkt")
      .filter(col("a") < col("b"))
      .withColumn("cos", Ann.round4(Ann.dot(col("va"), col("vb"))))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Self-contained embedding near-dup scale path: bucket by an
    * `nPlanes`-bit sign-LSH computed from the vectors themselves, then
    * bucket-local capped pairs. Size `nPlanes` ≈ log₂(N): expected
    * occupancy N/2^nPlanes stays O(1), so pair generation is linear in
    * corpus size (16-24 planes at 10⁶-10⁹ vectors). The occupancy cap
    * still backstops skewed buckets (near-identical embedding mass).
    */
  def lshNearDups(df: DataFrame, vecCol: String, idCol: String,
      nPlanes: Int, dim: Int, threshold: Double,
      maxBucket: Int = MaxEmbBucketForPairs,
      stats: Option[Observation] = None): DataFrame = {
    val bucketed = Ann.withLshBucket(df, vecCol,
      Ann.hyperplanes(nPlanes, dim), "_graft_lshb")
    embeddingNearDups(bucketed, vecCol, idCol, "_graft_lshb", threshold,
      maxBucket, stats)
  }

  /** Sub-line repeated-SPAN dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", at k-token window
    * granularity): every k-token span whose fingerprint occurs more
    * than once in the corpus keeps only its FIRST occurrence — min
    * (id, start) — every token covered by a non-first duplicated
    * window is removed, and each document is rebuilt from its
    * surviving tokens. The finer-grained sibling of corpus-wide line
    * dedup.
    *
    * Scale shape: span fingerprints are 8-byte FNV longs (~24 B/span
    * through the fp exchange — the text never shuffles on fp); the
    * global keep decision is a groupBy(fp).agg(count, min(struct))
    * with map-side partial aggregation (a boilerplate span duplicated
    * across millions of docs combines before the exchange); only
    * DUPLICATED fingerprints (count > 1) join back, bounding the mask
    * join to the duplicated mass; the token payload rides only
    * doc-keyed shuffles. The corpus is tokenized exactly once — the
    * persisted token table feeds both the span generator and the
    * rebuild (single-scan audited).
    *
    * Returns (idCol, clean_text, n_tokens, n_dropped) for every input
    * row with non-null text.
    */
  def spanDedup(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    val toks = trackPersisted(
      Exec.fanOutForCpu(df.filter(col(textCol).isNotNull)
          .select(col(idCol), col(textCol)))
        .select(col(idCol), TextFunctions.tokens(col(textCol)).as("t"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // (id, start, fp) for every k-token window, duplicates kept in
    // order — posexplode's index IS the 0-based token offset; the
    // fused native kernel hashes each window without materializing the
    // gram strings (identical FNV values — state chaining)
    val spans = toks
      .select(col(idCol), posexplode(
        Expressions.hashedWordNgrams(col("t"), k, distinct = false))
        .as(Seq("start", "fp")))
    val dup = spans.groupBy(col("fp"))
      .agg(count(lit(1)).as("n"),
        min(struct(col(idCol), col("start"))).as("f"))
      .filter(col("n") > 1)
      .select(col("fp"), col(s"f.$idCol").as("fdoc"),
        col("f.start").as("fstart"))
    val masked = spans.join(dup, Seq("fp"))
      .filter(col(idCol) =!= col("fdoc") ||
        col("start") =!= col("fstart"))
      .select(col(idCol),
        explode(sequence(col("start"), col("start") + lit(k - 1)))
          .as("pos"))
      .distinct()
    val tokPos = toks
      .select(col(idCol), posexplode(col("t")).as(Seq("pos", "tok")))
    val kept = tokPos.join(masked, Seq(idCol, "pos"), "left_anti")
    val agg = kept.groupBy(col(idCol))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    toks.select(col(idCol), size(col("t")).cast("long").as("n_tokens"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  /** Transitive near-dup clusters: the final dedup step. Pairwise
    * generators (jaccard / simhash / embedding) emit EDGES; keeping one
    * doc per connected component — not per pair — is what actually
    * dedupes, because near-dup is not transitive pairwise but the
    * cluster policy treats it so (a~b, b~c ⇒ drop two of three).
    *
    * Distributed min-label propagation: every vertex starts as its own
    * label, each round takes the min of its own and its neighbors'
    * labels, until a fixpoint — converging in O(cluster diameter)
    * rounds, and dedup graphs are shallow (near-dup clusters are
    * quasi-cliques from shared LSH buckets; diameter is small even when
    * the corpus is not). The loop is DRIVER-CONTROLLED but fully
    * distributed per round: one join + one aggregation, both keyed on
    * vertex id; nothing is collected. `localCheckpoint` truncates the
    * iterative lineage so round N's plan doesn't embed rounds 1..N-1
    * (the classic iterative-DataFrame blowup). For adversarial
    * long-chain graphs, large-star/small-star (Kiveris et al.) halves
    * round count; not needed at dedup diameters.
    *
    * Returns (id, cluster) for every vertex that appears in `pairs`;
    * cluster = min id of its component (deterministic keeper choice —
    * the same min-wins rule as [[exactGroups]]).
    */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // both edge orientations from ONE pass over `pairs` — a union of
    // two selects would evaluate the (expensive) upstream pair pipeline
    // twice when materializing the persist
    val sym = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = Exec.iterCheckpoint(
        sym.select(col("src").as("id")).distinct()
          .withColumn("label", col("id")), eager = true)
      val labelType = labels.schema("label").dataType
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        // convergence detection rides the round's OWN aggregation: each
        // vertex's previous label is carried as `old` (null on neighbor
        // rows, so max() recovers the unique self value), and "any label
        // decreased" is then a limit-1 probe of the checkpointed result
        // — no separate join-and-count job over two label tables per
        // round (round-3 verdict: that join was a third job/iteration)
        val viaNeighbor = sym
          .join(labels.withColumnRenamed("id", "dst"), "dst")
          .select(col("src").as("id"), col("label"),
            lit(null).cast(labelType).as("old"))
        val self = labels.select(col("id"), col("label"),
          col("label").as("old"))
        val next = Exec.iterCheckpoint(
          viaNeighbor.unionByName(self)
            .groupBy(col("id"))
            .agg(min(col("label")).as("label"), max(col("old")).as("old")),
          eager = true)
        // the superseded checkpoint is dead once `next` materialized —
        // release its blocks now instead of pinning maxIter label tables
        // in the block manager until driver GC notices. Dataset.unpersist
        // is a no-op here (localCheckpoint persists at the RDD level,
        // which the CacheManager doesn't track), so the checkpointed RDD
        // behind the plan's LogicalRDD leaf is unpersisted directly —
        // safe ONLY because the superseded table is never read again.
        Exec.freeLocalCheckpoint(labels)
        // min-propagation labels only ever decrease, so label < old is
        // exactly "changed this round"; the probe short-circuits on the
        // first changed row of the cached table
        converged = next.filter(col("label") < col("old")).isEmpty
        labels = next.select(col("id"), col("label"))
        iter += 1
      }
      require(converged,
        s"dupClusters did not converge in $maxIter rounds — component " +
          "diameter exceeds the dedup-graph assumption; raise maxIter or " +
          "switch to large-star/small-star")
      labels.select(col("id"), col("label").as("cluster"))
    } finally sym.unpersist(blocking = false)
  }

  /** Transitive clusters via alternating large-star / small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond"): converges in O(log n) ROUNDS regardless of component
    * diameter — the scale path for graphs [[dupClusters]]'s
    * O(diameter) min-label propagation cannot finish (long chains,
    * e.g. a template drifting one token per crawl for months). Each
    * round is two join+aggregate jobs over the edge set:
    *
    *  - large-star: every node attaches its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node attaches its smaller neighbors (and
    *    itself) to the minimum of its smaller neighborhood.
    *
    * Both preserve connectivity and only ever point edges at smaller
    * ids; the fixpoint is a star per component rooted at its min id —
    * the same (id, cluster=min) output and keeper rule as
    * [[dupClusters]], verified against the same reachability oracle.
    *
    * Cost shape (reworked after the round-4 audit, which found the
    * upstream pair pipeline evaluated TWICE and three jobs per round):
    *  - the input `pairs` pipeline — candidate generation + bucket
    *    verification, the engine's most expensive stage — materializes
    *    exactly ONCE, into a checkpoint that both the edge set and the
    *    vertex set derive from;
    *  - every edge set carries the invariant u > v and is distinct,
    *    which makes the symmetrized form duplicate-free without a
    *    `distinct()` (a full edge shuffle per use) and lets small-star
    *    consume its input DIRECTLY: for an oriented edge set E,
    *    sym(E).filter(v < u) == E — the smaller-neighborhood relation
    *    IS the oriented edge list, no symmetrize/re-filter round trip;
    *  - the convergence fingerprint (count + order-independent
    *    xxhash64, decimal sum so ANSI can't overflow) rides the
    *    round's OWN materializing action: the next edge set is a lazy
    *    local checkpoint whose first action is the fingerprint
    *    aggregation, so one job both persists the blocks and answers
    *    "did the edge set change" — two jobs per round total
    *    (large-star, small-star+fingerprint), not three.
    */
  def dupClustersStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30): DataFrame = {
    // the ONLY evaluation of the upstream pair pipeline
    val p = Exec.iterCheckpoint(
      pairs.select(col(aCol).as("a"), col(bCol).as("b")), eager = true)
    // duplicate-free both-orientations form of an ORIENTED (u > v,
    // distinct) edge set; no distinct() needed — see Scaladoc
    def sym(e: DataFrame): DataFrame =
      e.select(explode(array(
          struct(col("u").as("s"), col("v").as("d")),
          struct(col("v").as("s"), col("u").as("d")))).as("e"))
        .select(col("e.s").as("u"), col("e.d").as("v"))
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val mins = s.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      s.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // input is already oriented larger→smaller (large-star only emits
    // (v, m) with v > u ≥ m), so the smaller-neighborhood relation is
    // the input itself — no sym, no filter
    def smallStar(smaller: DataFrame): DataFrame = {
      val mins = smaller.groupBy(col("u")).agg(min(col("v")).as("m"))
      val attach = smaller.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
      attach.union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // lazy checkpoint + fingerprint aggregation: ONE job persists the
    // edge set's blocks (first action on a marked RDD stores it) and
    // computes the convergence probe
    def checkpointWithFp(e: DataFrame): (DataFrame, (Long, String)) = {
      val ck = Exec.iterCheckpoint(e, eager = false)
      val r = ck.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (ck, (r.getLong(0),
        if (r.isNullAt(1)) "0" else r.getDecimal(1).toString))
    }
    var (e, fp) = checkpointWithFp(p
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct())
    // every vertex of the INPUT pairs — including isolated self-pair
    // vertices whose only edge is (a, a), which the edge set above
    // drops but dupClusters still labels (a → a); computed before the
    // edge set degenerates to stars. Backs the RETURNED lazy DataFrame,
    // so its checkpoint blocks stay live — the same lifecycle as
    // dupClusters' final label table.
    val nodes = Exec.iterCheckpoint(p
      .select(explode(array(col("a"), col("b"))).as("id"))
      .distinct(), eager = true)
    // both derivations materialized — the upstream checkpoint is dead
    Exec.freeLocalCheckpoint(p)
    var converged = false
    var iter = 0
    try {
      while (!converged && iter < maxIter) {
        // large-star is PERSISTED, not eagerly checkpointed: small-star
        // reads it twice (aggregate + join), and the cache makes the
        // second read free — but unlike the round-5 eager
        // localCheckpoint, materialization happens inside small-star's
        // own fingerprint job (cache fill on first touch), so each
        // round is ONE job, not two. Lineage stays shallow: ls derives
        // directly from the checkpointed e.
        val ls = largeStar(e)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (next, nfp) = checkpointWithFp(smallStar(ls))
        // superseded sets — next is materialized, neither is read again
        ls.unpersist(blocking = false)
        Exec.freeLocalCheckpoint(e)
        e = next
        converged = nfp == fp
        fp = nfp
        iter += 1
      }
      require(converged,
        s"dupClustersStar did not converge in $maxIter rounds")
    } catch {
      case t: Throwable =>
        // failure path: nothing will ever read these — free the
        // eagerly-materialized blocks instead of pinning them for the
        // driver's lifetime (Verify/bench catch per-query failures)
        Exec.freeLocalCheckpoint(e)
        Exec.freeLocalCheckpoint(nodes)
        throw t
    }
    // fixpoint edges are (member → root); roots have no outgoing edge
    nodes.join(e.select(col("u").as("id"), col("v").as("root")),
        Seq("id"), "left")
      .groupBy(col("id"))
      .agg(min(col("root")).as("r"))
      .select(col("id"),
        coalesce(col("r"), col("id")).as("cluster"))
  }

}
