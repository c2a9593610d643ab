package graft.exec

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftTestHooks, SparkSession}
import org.apache.spark.sql.types.LongType
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.operators.PageRank
import graft.streaming.StreamingDedup
import graft.tables.ManagedTable
import graft.text.VocabStats

/** The execution-scoping helper: a child session that inherits the
  * caller's runtime conf, and operators built on it that return the
  * same results from a non-default caller session (ANSI flipped,
  * case-sensitive analysis) as from a default one — while leaving the
  * caller's conf, global temp views and cache exactly as they found
  * them.
  */
class ScopedSpec extends SparkSpec {

  private val ansiKey = "spark.sql.ansi.enabled"
  private val caseKey = "spark.sql.caseSensitive"

  /** A caller session with non-default ANSI and case sensitivity, both
    * set at RUNTIME (what a bare `newSession()` child would drop).
    */
  private def tunedSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(ansiKey, (!s.conf.get(ansiKey).toBoolean).toString)
    s.conf.set(caseKey, "true")
    s
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Run `body` from `caller` and assert caller hygiene: the caller's
    * conf, its global temp views and the shared cache's plans are
    * unchanged afterwards. Also asserts that every SQL job the call ran
    * — child-session jobs included — carried the caller's runtime-set
    * ANSI and case-sensitivity values, and that at least one ran in a
    * NARROWED child (a shuffle width below the caller's).
    */
  private def hygienic[T](caller: SparkSession)(body: => T): T = {
    val conf0 = caller.conf.getAll
    def views() = caller.catalog.listTables("global_temp").collect()
      .map(_.name).toSet
    val views0 = views()
    val cached0 = GraftTestHooks.cachedPlans(caller)
    val jobs = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).foreach(jobs.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val r =
      try body
      finally {
        GraftTestHooks.drainListeners(caller)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(caller.conf.getAll == conf0, "the caller's conf must not change")
    assert(views() == views0, "no global temp view may be left behind")
    val cached = GraftTestHooks.cachedPlans(caller)
    assert(cached.size == cached0.size &&
      cached.zip(cached0).forall { case (a, b) => a eq b },
      s"the cache must hold exactly the caller's plans (had " +
        s"${cached0.size}, now ${cached.size})")
    val sqlJobs = jobs.asScala.toSeq
      .filter(_.getProperty("spark.sql.execution.id") != null)
    val callerWidth = caller.conf.get("spark.sql.shuffle.partitions").toInt
    assert(sqlJobs.exists(p => Option(p.getProperty(
        "spark.sql.shuffle.partitions")).exists(_.toInt < callerWidth)),
      "the operator must run (part of) its work in a narrowed child")
    sqlJobs.foreach { p =>
      assert(p.getProperty(caseKey) == "true" &&
        p.getProperty(ansiKey) == caller.conf.get(ansiKey),
        s"a job ran without the caller's runtime conf: case=" +
          s"${p.getProperty(caseKey)} ansi=${p.getProperty(ansiKey)}")
    }
    r
  }

  test("Scoped copies the caller's runtime conf, applies width, AQE and " +
       "overrides to the child only, and releases its caches") {
    val caller = tunedSession()
    val conf0 = caller.conf.getAll
    val cached0 = GraftTestHooks.cachedPlans(caller).size
    val width = caller.conf.get("spark.sql.shuffle.partitions").toInt
    val n = Scoped(caller, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      sc =>
        assert(!(sc.session eq caller))
        assert(sc.session.conf.get(caseKey) == "true")
        assert(sc.session.conf.get(ansiKey) == caller.conf.get(ansiKey))
        assert(sc.session.conf.get(
          "spark.sql.autoBroadcastJoinThreshold") == "-1")
        sc.width(width)
        assert(sc.session.conf.get("spark.sql.adaptive.enabled") ==
          caller.conf.get("spark.sql.adaptive.enabled"),
          "AQE stays as the caller has it at the caller's width")
        sc.width(1)
        assert(sc.session.conf.get("spark.sql.shuffle.partitions") == "1")
        assert(sc.session.conf.get("spark.sql.adaptive.enabled") == "false")
        val p = sc.persist(caller.range(100).toDF("id"))
        assert(p.sparkSession eq sc.session)
        assert(GraftTestHooks.cachedPlans(caller).size == cached0 + 1)
        sc.out(p.groupBy((p("id") % 3).as("k")).count()).count()
    }
    assert(n == 3L)
    assert(caller.conf.getAll == conf0)
    assert(GraftTestHooks.cachedPlans(caller).size == cached0,
      "the scope's persist must be released when it closes")
  }

  test("StreamingDedup.incremental: same result from an ANSI/case-" +
       "sensitive caller as from a default session, caller untouched") {
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cat sleeps by the warm fire"
    val other = "completely unrelated text about spark partitions " +
      "shuffles and catalyst optimizer rules"
    val third = "yet another document mentioning streaming state " +
      "watermarks and incremental processing"
    def run(s: SparkSession, tag: String): (Seq[Long], Seq[String]) = {
      import s.implicits._
      val index = StreamingDedup.openIndex(s, tmpDir(s"scidx-$tag"),
        "doc_id", LongType, parts = 2)
      val out = ManagedTable.create(
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        tmpDir(s"scout-$tag"))
      val batches = Seq(
        Seq((1L, base), (2L, other), (3L, base + "!")),
        Seq((10L, base.replace("fire", "stove")), (11L, third)))
      val counts = batches.zipWithIndex.map { case (b, i) =>
        StreamingDedup.incremental(b.toDF("doc_id", "text"), "doc_id",
          "text", index, out, txn = ("scoped", i.toLong), threshold = 0.5)
      }
      (counts, rows(out.toDF))
    }
    val expected = run(spark.newSession(), "default")
    val caller = tunedSession()
    val got = hygienic(caller)(run(caller, "tuned"))
    assert(got == expected)
    assert(got._1 == Seq(2L, 1L))
  }

  test("fitMknModel (order 3): same model from an ANSI/case-sensitive " +
       "caller as from a default session, caller untouched") {
    val corpus = Seq(
      "the cat sat on the mat and the dog sat on the rug",
      "the dog sat on the mat while the cat ran to the door",
      "a cat and a dog sat by the door on the mat",
      "the rug by the door is where the cat sat")
    def fit(s: SparkSession): Seq[String] = {
      import s.implicits._
      val m = VocabStats.fitMknModel(corpus.toDF("text"), "text", order = 3)
      try rows(m) finally VocabStats.releaseModel(m)
    }
    val expected = fit(spark.newSession())
    val caller = tunedSession()
    assert(hygienic(caller)(fit(caller)) == expected)
    assert(expected.nonEmpty)
  }

  test("PageRank.ranks: same ranks from an ANSI/case-sensitive caller as " +
       "from a default session, caller untouched") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("d", "a"), ("c", "e"))
    def rank(s: SparkSession): Seq[String] = {
      import s.implicits._
      val r = PageRank.ranks(edges.toDF("src", "dst"), "src", "dst", 5)
      try rows(r) finally PageRank.release(r)
    }
    val expected = rank(spark.newSession())
    val caller = tunedSession()
    assert(hygienic(caller)(rank(caller)) == expected)
    assert(expected.size == 5)
  }
}
