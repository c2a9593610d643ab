package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.plans.BloomRef

/** Bloom-prefiltered dedup against a REFERENCE key set — the Dolma-style
  * "have we seen this before" gate for continuous ingestion, where the
  * reference is yesterday's corpus, a crawl frontier, or a benchmark
  * blocklist.
  *
  * The naive formulation is one big `left_anti` join: EVERY incoming row
  * shuffles on the key even though, in the steady state, almost all of
  * them are new. The Bloom shape splits the work:
  *
  *  1. build a Bloom filter over the reference keys (one distributed
  *     aggregation; the filter, not the keys, comes back to the driver);
  *  2. probe every incoming key against the broadcast filter AT SCAN
  *     SPEED ([[graft.plans.BloomMightContain]], whole-stage codegen) —
  *     rows the filter rejects are DEFINITELY new (no false negatives)
  *     and never enter a shuffle;
  *  3. only the `might_contain` survivors — true duplicates plus an
  *     fpp-bounded sliver of false positives — flow into the exact
  *     anti-join that confirms them.
  *
  * The anti-join input shrinks from |incoming| to
  * |dups| + fpp·|incoming|, which is the whole point: at a 1% fpp the
  * shuffle is ~1% of the naive plan's when the stream is mostly novel.
  * The result is EXACT (the filter only routes rows; the join decides),
  * which is also what makes the operator oracle-checkable.
  *
  * Sizing honesty (see [[graft.plans.BloomRef]]): bits = -n·ln(fpp)/ln²2
  * ≈ 1.2 MB per million reference keys at 1% — a driver-built,
  * task-broadcast filter is the right call up to ~10⁸ keys. Past that,
  * [[buildBank]] shards the reference into a filter bank built in one
  * distributed aggregation ([[newRowsSharded]] probes it with the same
  * exact semantics); [[newRows]] takes the built filter so callers
  * control that trade.
  *
  * Reference behavior: MrPowers/mack `append_without_duplicates`
  * (mack/__init__.py:441) is the same contract served by a bare
  * anti-join; this is its high-throughput form.
  */
object BloomDedup {

  /** Build a Bloom filter over `ref`'s `keyCol` (bigint or string).
    * `expectedItems <= 0` counts the reference first — one cheap
    * count-star job — so the filter is sized to the actual key cardinality
    * instead of a guess (an undersized filter degrades fpp, never
    * correctness).
    */
  def buildFilter(ref: DataFrame, keyCol: String, expectedItems: Long = 0L,
                  fpp: Double = 0.01): BloomRef = {
    require(fpp > 0.0 && fpp < 1.0, s"need 0 < fpp < 1, got $fpp")
    // the count also guards the empty reference: Spark's stat.bloomFilter
    // NPEs on an empty frame (its aggregate returns null bytes), and an
    // empty reference legitimately means "everything is new"
    val actual = ref.count()
    val bf: BloomFilter =
      if (actual == 0L) BloomFilter.create(1L, fpp)
      else ref.stat.bloomFilter(keyCol,
        if (expectedItems > 0L) expectedItems else actual, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    new BloomRef(bos.toByteArray)
  }

  /** Scan-speed membership probe column (true ⇒ MAYBE in the reference,
    * false ⇒ definitely not).
    */
  def mightContain(key: Column, filter: BloomRef): Column =
    graft.plans.expressions.bloom_might_contain(key, filter)

  /** Build a SHARDED filter bank over `ref`'s `keyCol` — the regime past
    * [[buildFilter]]'s single-broadcast ceiling (~10⁸ keys ≈ 120 MB at
    * 1% fpp). Keys route to shard `pmod(xxhash64(key), shards)` and each
    * shard aggregates its hashes into its own filter via Spark's
    * `BloomFilterAggregate` — ONE distributed pass with map-side partial
    * bitset merges, instead of `stat.bloomFilter`'s whole-filter
    * driver-merged reduction (whose every partial is the FULL filter's
    * size) or one job per shard. The bank broadcasts once per executor;
    * per-shard bits size to the MEASURED shard cardinality, so skew
    * degrades a hot shard's fpp, never correctness. Past the point where
    * even the bank fits an executor (~10⁹-10¹⁰ keys), partition-route
    * the probe side instead — documented, not automatic.
    */
  def buildBank(ref: DataFrame, keyCol: String, shards: Int,
                fpp: Double = 0.01): graft.plans.BloomBankRef = {
    require(shards >= 1, s"need shards >= 1, got $shards")
    require(fpp > 0.0 && fpp < 1.0, s"need 0 < fpp < 1, got $fpp")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val h = xxhash64(col(keyCol))
    val hashed = ref.select(h.as("__h"),
      pmod(h, lit(shards.toLong)).cast("int").as("__s"))
    // shard cardinalities first (count-only rows) — the filters size to
    // the real distribution, and empty shards simply stay absent
    val counts = hashed.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val bytes = new Array[Array[Byte]](shards)
    if (counts.nonEmpty) {
      // one aggregation job builds every shard's filter; numBits is a
      // per-bank constant sized to the LARGEST shard (BloomFilterAggregate
      // takes literals), so skewed shards keep their fpp
      val maxN = counts.values.max
      val numBits = org.apache.spark.util.sketch.BloomFilter
        .optimalNumOfBits(maxN, fpp)
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      val agg = column(new BloomFilterAggregate(
        expression(col("__h")),
        Literal(maxN), Literal(numBits)).toAggregateExpression())
      // BloomFilterAggregate silently clamps its item/bit literals with
      // Math.min against the runtime-bloom-filter session confs (defaults:
      // 4M items / 64M bits — sized for join pruning, not for this). Past
      // those, per-shard filters would silently saturate and fpp degrade
      // toward 1, defeating the prefilter (exactness would survive only
      // through the confirm join). Raise the confs to cover the measured
      // sizing for the one aggregation job, in a scope of its own.
      val spark = ref.sparkSession
      def atLeast(key: String, n: Long) =
        key -> math.max(n, spark.conf.getOption(key).map(_.toLong)
          .getOrElse(0L)).toString
      graft.exec.Scoped(spark,
          atLeast("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", maxN),
          atLeast("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
            numBits)) { sc =>
        sc(hashed).groupBy(col("__s")).agg(agg.as("__f"))
          .collect().foreach { r =>
            bytes(r.getInt(0)) = r.getAs[Array[Byte]](1)
          }
      }
    }
    new graft.plans.BloomBankRef(bytes)
  }

  /** Scan-speed bank membership probe (see [[buildBank]]). */
  def mightContainBank(key: Column,
                       bank: graft.plans.BloomBankRef): Column =
    graft.plans.expressions.bloom_bank_might_contain(key, bank)

  /** [[newRows]] against a SHARDED bank — identical exact semantics
    * (prefilter routes, the anti-join decides), for reference sets past
    * the single-filter broadcast ceiling.
    */
  def newRowsSharded(incoming: DataFrame, ref: DataFrame, keyCol: String,
                     shards: Int, fpp: Double = 0.01,
                     bank: Option[graft.plans.BloomBankRef] = None)
      : DataFrame = {
    val bk = bank.getOrElse(buildBank(ref, keyCol, shards, fpp))
    val probe = mightContainBank(col(keyCol), bk)
    val definiteNew = incoming.filter(!probe)
    val confirmed = incoming.filter(probe)
      .join(ref.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    definiteNew.unionByName(confirmed)
  }

  /** EXACT new-rows: incoming rows whose `keyCol` is not present in
    * `ref` — equal to `incoming LEFT ANTI JOIN ref ON key`, computed as
    * prefilter + confirm (see the object doc). The definite-new branch
    * re-scans `incoming` instead of caching it: at the scale this
    * operator targets, a second columnar scan is cheaper than
    * materializing the batch.
    */
  def newRows(incoming: DataFrame, ref: DataFrame, keyCol: String,
              fpp: Double = 0.01,
              filter: Option[BloomRef] = None): DataFrame = {
    val bf = filter.getOrElse(buildFilter(ref, keyCol, fpp = fpp))
    val probe = mightContain(col(keyCol), bf)
    val definiteNew = incoming.filter(!probe)
    val confirmed = incoming.filter(probe)
      .join(ref.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    definiteNew.unionByName(confirmed)
  }

  /** APPROXIMATE new-rows: drop every `might_contain` hit outright — no
    * join at all, one scan, the exact shape Dolma's Bloom dedup runs. A
    * false positive here LOSES a novel row (bounded by fpp); use
    * [[newRows]] when loss is unacceptable.
    */
  def newRowsApprox(incoming: DataFrame, ref: DataFrame, keyCol: String,
                    fpp: Double = 0.01,
                    filter: Option[BloomRef] = None): DataFrame = {
    val bf = filter.getOrElse(buildFilter(ref, keyCol, fpp = fpp))
    incoming.filter(!mightContain(col(keyCol), bf))
  }
}
