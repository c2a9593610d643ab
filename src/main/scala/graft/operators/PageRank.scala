package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.exec.Scoped

/** PageRank over the crawl link graph — the frontier PRIORITIZATION
  * signal (which domain to fetch next, which site's budget to raise):
  * the classic random-surfer fixed point (Page et al. 1999), computed
  * by power iteration over an edge list.
  *
  * The arithmetic is FIXED-POINT INTEGER, not floating point: ranks
  * live as `BIGINT` multiples of `1/scale` (default 1e-12), every
  * update is integer multiply / integer floor-division, and every sum
  * is a `BIGINT` sum. That buys two properties floats cannot give at
  * cluster scale:
  *
  *  - **Determinism under any partitioning.** Integer addition is
  *    associative-commutative, so partial aggregation, AQE re-plans,
  *    and skew splits cannot change a single output bit — double sums
  *    would drift with reduction order.
  *  - **Engine portability.** An external engine (the DuckDB oracle)
  *    replays the identical `//`-division recurrence and lands on the
  *    identical integers; there is no ULP to adjudicate.
  *
  * Truncation bias is one rank unit per division — bounded by
  * `(iterations × max_indegree) / scale`, i.e. ~1e-9 of total mass at
  * the default scale, far below any ranking-relevant difference; the
  * same contraction argument as float PageRank bounds the fixed-point
  * error (Langville & Meyer 2006, ch. 9 treats inexact iterates).
  *
  * Per iteration (damping d = dampNum/dampDen, N = node count):
  * {{{
  *   contrib(u→v) = r(u) div outdeg(u)
  *   r'(v) = ((dampDen−dampNum)·scale div dampDen) div N
  *         + dampNum · (Σ_in contrib + D div N) div dampDen
  * }}}
  * where `D = Σ r(u)` over dangling nodes (outdeg 0) — the standard
  * uniform re-injection of the random surfer stuck on a sink page.
  *
  * Scale shape: each iteration is ONE shuffle — `edges ⋈ ranks` on the
  * src key (edges pre-joined with out-degrees once and persisted, so
  * the join key partitioning is reused every round), then a map-side-
  * combinable integer `sum` by dst. The dangling mass is a one-row
  * aggregate broadcast back in. The carried state is one eagerly
  * local-checkpointed vector per round (lineage cut) — O(|V|) state
  * per iteration, O(|E|) work, the textbook Pregel shape without a
  * graph library. Node count rides as a broadcast one-row crossJoin,
  * never a driver collect. Iteration shuffles are sized to the
  * measured edge count; in the small-graph regime (loop width below
  * the session width) AQE is scoped OFF for the loop — its per-
  * exchange stage materialization is pure latency on an
  * explicitly-sized tiny exchange, while at full width it stays on
  * for skew handling.
  */
object PageRank {

  /** Iterate PageRank over `edges` (self-loops and duplicate edges are
    * the caller's contract — [[fromEdges]] dedupes; see the declared
    * query). Returns `(node, out_degree, rank_fp, rank)`: the
    * fixed-point `BIGINT` rank and its exact `rank_fp / scale` double
    * view.
    *
    * Fault tolerance: by default the carried state rides
    * `localCheckpoint()` — executor-LOCAL blocks whose lineage is cut,
    * so an executor loss past iteration k cannot recompute (the job
    * fails and must restart from the edges). That is the right local /
    * single-JVM trade (no FS round trip per iteration); a
    * 1000-executor production run should set `reliableEvery = N` to
    * write a RELIABLE `checkpoint()` to the SparkContext's checkpoint
    * directory every N rounds (the GraphX `checkpointInterval` idiom —
    * rounds between reliable cuts still use local checkpoints, and an
    * executor loss replays at most N−1 rounds from the last reliable
    * cut). Requires `SparkContext.setCheckpointDir` to have been
    * called; iteration results are BIT-identical with the option on or
    * off (integer arithmetic — pinned by PageRankSpec). Reliable
    * checkpoint files live until context stop (or the
    * `spark.cleaner.referenceTracking.cleanCheckpoints` GC path).
    *
    * The returned vector stays materialized (it IS the result); a
    * caller done with it frees the blocks with [[release]].
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            iterations: Int = 8, scale: Long = 1000000000000L,
            dampNum: Long = 85, dampDen: Long = 100,
            loopPartitions: Option[Int] = None,
            reliableEvery: Int = 0): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    require(dampNum > 0 && dampNum < dampDen,
      s"need 0 < dampNum < dampDen, got $dampNum/$dampDen")
    require(scale >= 1000L, s"need scale >= 1000, got $scale")
    require(reliableEvery >= 0,
      s"need reliableEvery >= 0, got $reliableEvery")
    require(reliableEvery == 0 ||
      edges.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliableEvery > 0 needs SparkContext.setCheckpointDir — " +
        "reliable checkpoints write to the checkpoint directory")
    // the loop runs in a [[graft.exec.Scoped]] child: the iteration
    // wants loop-sized shuffles and — in the small-graph regime — AQE
    // off, while at full width it stays on for skew handling in inMass
    Scoped(edges.sparkSession) { sc =>
    val e = sc.persist(edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct()
      .filter(col("src") =!= col("dst")))
    // materialize the edge list ONCE at full session parallelism (its
    // derivation — an extraction chain, a big scan — is where the data
    // volume lives) and size the iteration's shuffles from the result:
    // each round moves O(|E|) 8-byte-ish tuples, so partitions beyond
    // |E|/20k rows are pure task-scheduling overhead. Capped at the
    // session default so a production run (shuffle.partitions in the
    // thousands) keeps its configured width for billion-edge graphs.
    val eCount = e.count()
    sc.width(loopPartitions.getOrElse(
      math.max(1, math.min(sc.callerWidth.toLong, eCount / 20000L + 1L).toInt)))

    val outdeg0 = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // edges carry their src's degree so every iteration's contribution
    // is a single equi-join on src — degrees never re-derive; persisted
    // in the child so the loop's consumers hit the cache by identity
    val edgesDeg = sc.persist(e.join(outdeg0, "src")) // (src,dst,deg)
    val outdeg = edgesDeg.select("src", "deg").distinct()
    val nodeUnion = edgesDeg.select(col("src").as("node"))
      .union(edgesDeg.select(col("dst").as("node"))).distinct()
    // N as a broadcast one-row column, not a driver-side count
    val nTotal = broadcast(nodeUnion.agg(count(lit(1)).as("n")))

    val teleport: Column =
      expr(s"((${dampDen - dampNum} * ${scale}L) div $dampDen) div n")
    // deterministically drop a superseded round's checkpoint blocks
    // (the GraphX unpersist idiom — waiting for GC-driven cleanup
    // would hold up to `iterations` rank-vector copies in executor
    // memory at once)
    def dropCheckpoint(df: DataFrame): Unit =
      df.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.foreach { r => r.unpersist(blocking = false); () }
    // the carried state is ONE checkpointed vector per round:
    // (node, n, out_degree, r) — n rides as a column so no rejoin,
    // out_degree = 0 marks dangling so the re-injection aggregate is
    // a filter over the state itself, not another join
    // lineage cut per round: local blocks by default; every
    // `reliableEvery`-th round a RELIABLE checkpoint when requested
    // (see the scaladoc's fault-tolerance note). Both are EAGER, so
    // the drop of the superseded round below is always safe.
    def cut(df: DataFrame, round: Int): DataFrame =
      if (reliableEvery > 0 && round % reliableEvery == 0) {
        // persist-before-checkpoint: a reliable checkpoint runs a
        // SECOND job to write the files — on an unpersisted plan that
        // job recomputes the round's joins from lineage (every
        // reliable round computed twice); cached, it re-reads blocks
        val cached = df.persist()
        try cached.checkpoint()
        finally { cached.unpersist(blocking = false); () }
      } else df.localCheckpoint()
    var state = nodeUnion.crossJoin(nTotal)
      .join(outdeg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), col("n"),
        coalesce(col("deg"), lit(0L)).as("out_degree"),
        expr(s"${scale}L div n").as("r"))
      .localCheckpoint()
    var iter = 0
    while (iter < iterations) {
      val inMass = edgesDeg
        .join(state.select(col("node").as("src"), col("r")), "src")
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      val dangling = broadcast(state.filter(col("out_degree") === 0L)
        .agg(coalesce(sum("r"), lit(0L)).as("d")))
      val prev = state
      state = state.drop("r")
        .join(inMass.withColumnRenamed("dst", "node"), Seq("node"),
          "left")
        .crossJoin(dangling)
        .select(col("node"), col("n"), col("out_degree"),
          (teleport +
            expr(
              s"($dampNum * (coalesce(s, 0L) + (d div n))) div $dampDen"))
            .as("r"))
        // eager localCheckpoint TRUNCATES the lineage each round (the
        // iterative-algorithm idiom — GraphX checkpoints the same
        // way): round k references round k−1 three times (inMass,
        // dangling, and the carried columns), so an uncut recurrence
        // is an exponential logical plan in both analysis and
        // recomputation. After the cut each round's plan is one
        // LogicalRDD deep, and the O(|V|) state vector is the only
        // carried data.
      state = cut(state, iter + 1)
      dropCheckpoint(prev) // this round is materialized; k−1 is dead
      iter += 1
    }
    // hand the checkpointed result back to the CALLER's session (one
    // LogicalRDD; the edge caches release when the scope closes — only
    // the rank vector, which IS the result, stays materialized)
    sc.out(state).select(col("node"), col("out_degree"),
      col("r").as("rank_fp"),
      (col("r").cast("double") / lit(scale.toDouble)).as("rank"))
    }
  }

  /** Convenience: dedupe an `(src, dst)` link extraction and rank it —
    * the `html_links → registrable_domain →` PageRank composition.
    */
  def fromEdges(links: DataFrame, srcCol: String, dstCol: String,
                iterations: Int = 8): DataFrame =
    ranks(links, srcCol, dstCol, iterations)

  /** Free the checkpoint blocks behind a [[ranks]] result once the
    * caller is done with it (a long-lived session computing many
    * graphs should not wait for GC-driven ContextCleaner cleanup —
    * the same deterministic-release discipline the loop applies to
    * its superseded rounds). Safe on any DataFrame: unpersists every
    * `LogicalRDD` leaf in the plan and nothing else.
    */
  def release(result: DataFrame): Unit =
    result.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach { r => r.unpersist(blocking = false); () }
}
