package graft.exec

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import scala.collection.mutable.ArrayBuffer

/** Scoped execution: the one way a graft operator changes how its own
  * work executes without touching the caller's session.
  *
  * [[Scoped.apply]] runs `body` against a CHILD session of the caller's
  * — same SparkContext, same cache manager, its own SQLConf — and the
  * caller's conf, cache and catalog are never mutated, so concurrent
  * queries on a shared driver cannot race on a flipped setting.
  *
  *  - The child starts from a COPY of the caller's runtime SQLConf
  *    (every non-static key of `conf.getAll`, which is
  *    `sessionState.conf.getAllConfs`): a bare `newSession()` would
  *    silently drop runtime-set ANSI, case-sensitivity, time-zone …
  *    settings and change results.
  *  - [[width]] applies the shuffle width the operator computed from
  *    its OWN scale rule (tokens/50k for the mkn fit, |E|/20k for
  *    PageRank, the index's `parts` for streaming dedup). Below the
  *    caller's width AQE is switched off: its per-exchange stage
  *    materialization is pure latency on explicitly-sized tiny
  *    exchanges, and at small scale a full-width plan pays width ×
  *    stage-count task latencies for shuffles of a few MB. At
  *    production mass the rules land on the caller's width and nothing
  *    changes (AQE stays on for skew handling).
  *  - Per-call conf overrides (parquet field-id stamping for one write,
  *    raised bloom-aggregate caps for one job) apply to the child only.
  *
  * Frames cross by plan, not by name: [[apply]] re-roots a frame in the
  * child and [[out]] re-roots a child frame in the caller's session
  * (`Dataset.ofRows` — no temp views, nothing to drop). [[persist]]
  * caches a frame for the scope's lifetime; every such cache is
  * released when the scope closes, on success and failure alike. A
  * result that must outlive the scope is materialized by the operator
  * (an eager `localCheckpoint`, whose LogicalRDD is read by identity in
  * any session) before it crosses back.
  */
final class Scoped private (caller: SparkSession) {

  /** The child session the scoped work runs in. */
  val session: SparkSession = {
    val child = caller.newSession()
    for ((k, v) <- caller.conf.getAll
         if !SQLConf.isStaticConfigKey(k) && !child.conf.getOption(k).contains(v))
      child.conf.set(k, v)
    child
  }

  /** The caller's shuffle width — the cap of every operator's width rule. */
  val callerWidth: Int =
    caller.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt

  private val held = ArrayBuffer.empty[DataFrame]

  /** Run the scoped work at `w` shuffle partitions; AQE off below the
    * caller's width.
    */
  def width(w: Int): Unit = {
    session.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, w.toString)
    if (w < callerWidth)
      session.conf.set(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, "false")
  }

  /** `df` as a frame of the child session. */
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession eq session) df
    else GraftColumnBridge.ofRows(session, df)

  /** `df` in the child session, cached until the scope closes — cache
    * hits are by object identity, so consumers reference the returned
    * frame.
    */
  def persist(df: DataFrame): DataFrame = {
    val p = apply(df).persist()
    held += p
    p
  }

  /** A child-session frame handed back to the caller's session. */
  def out(df: DataFrame): DataFrame = GraftColumnBridge.ofRows(caller, df)

  private def close(): Unit = held.foreach(_.unpersist(blocking = false))
}

object Scoped {

  /** Run `body` in a fresh scope over `caller`, with `confs` set on the
    * child session only.
    */
  def apply[T](caller: SparkSession, confs: (String, String)*)
              (body: Scoped => T): T = {
    val s = new Scoped(caller)
    confs.foreach { case (k, v) => s.session.conf.set(k, v) }
    try body(s) finally s.close()
  }
}
