package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * The one core of the Spark-side round loops ([[Graph.kCore]],
 * [[Graph.kTruss]], [[Graph.bfsDistances]], and the distributed rounds of
 * [[Graph.labelPropagation]] and [[Dedup.connectedComponents]]): [[step]]
 * makes a round's frame a plan leaf written by the job of the round's
 * scalar, and [[loop]] bounds the rounds, tags their jobs and posts the
 * op's record.
 */
private[graft] object Rounds {

  /** The local property naming the round a job runs for, `<op>#<round>`
   *  (round 0 is the setup); [[graft.tools.Instrument]] reads it. */
  val OpProperty = "graft.op"

  /** `df` as a plan leaf, reliable when the SparkContext has a checkpoint
   *  dir and local otherwise, and `scalar` over it, in one action that
   *  also writes the leaf (which keeps the plan from growing with the
   *  rounds). `scalar` must read every partition, as a count or a sum
   *  does: a lazy local checkpoint left partly unread costs a job more. */
  def step[T](df: DataFrame)(scalar: DataFrame => T): (DataFrame, T) =
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) {
      val leaf = df.localCheckpoint(eager = false)
      (leaf, scalar(leaf))
    } else {
      df.persist() // the files are written after the scalar's job, from the cache
      try { val leaf = df.checkpoint(eager = false); (leaf, scalar(leaf)) }
      finally df.unpersist(blocking = false)
    }

  /** `op`'s rounds: `setup` (round 0) says whether round 1 is needed, and
   *  round `i` whether round `i + 1` is, up to `maxRounds`. Each runs with
   *  [[OpProperty]] set, and the caller's value is restored after. When
   *  `raises`, a loop still wanting a round after `maxRounds` raises "<op>
   *  did not converge within `maxRounds` rounds"; any other posts the op's
   *  record with the rounds run. */
  def loop(df: DataFrame, op: String, maxRounds: Int, raises: Boolean,
      regime: String = "distributed", reason: String = "no local regime")(
      setup: => Boolean)(round: Int => Boolean): Unit = {
    val sc = df.sparkSession.sparkContext
    val outer = sc.getLocalProperty(OpProperty)
    def tagged(i: Int)(body: => Boolean): Boolean = {
      sc.setLocalProperty(OpProperty, s"$op#$i")
      try body finally sc.setLocalProperty(OpProperty, outer)
    }
    var more = tagged(0)(setup)
    var r = 0
    while (more && r < maxRounds) { r += 1; more = tagged(r)(round(r)) }
    require(!(raises && more), s"$op did not converge within $maxRounds rounds")
    record(df, op, regime, r, reason)
  }
}
