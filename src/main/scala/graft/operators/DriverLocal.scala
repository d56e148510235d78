package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructType}

/**
 * The one core of the driver-local regimes (the PageRanks,
 * [[Graph.labelPropagation]], [[Dedup.connectedComponents]],
 * [[Dedup.minhashLshPairs]] and [[LocalKmeans]]), which run every round
 * on the driver when their input fits
 * `spark.sql.autoBroadcastJoinThreshold`: one [[charge]] job, one
 * [[gate]], a collect into primitive arrays and a local result [[frame]].
 */
private[graft] object DriverLocal {

  /** Rows, and their summed byte charges unless a row charged null. */
  final case class Charge(rows: Long, bytes: Option[Long])

  /** Each frame with its per-row byte charge, in one job: each partition
   *  sums its own rows, so there is no exchange. */
  def charge(frames: (DataFrame, Column)*): Seq[Charge] = {
    val spark = frames.head._1.sparkSession
    import spark.implicits._
    val n = frames.length
    // frame t's rows at t, bytes at n + t, null charges at 2n + t
    val parts = tagged(frames.map { case (f, c) => f -> Seq(c.cast("long")) }).mapPartitions { rows =>
      val s = new Array[Long](3 * n)
      rows.foreach { r =>
        val t = r.getInt(0)
        s(t) += 1
        if (r.isNullAt(1)) s(2 * n + t) += 1 else s(n + t) += r.getLong(1)
      }
      Iterator(s)
    }.collect()
    def total(i: Int) = parts.map(_(i)).sum
    (0 until n).map(t => Charge(total(t), Option.when(total(2 * n + t) == 0)(total(n + t))))
  }

  /** The frames' row counts, in one [[charge]] job. */
  def rows(frames: DataFrame*): Seq[Long] = charge(frames.map(_ -> lit(0L)): _*).map(_.rows)

  /** The frames' rows, each `(t, columns...)` for frame `t`, as one frame. */
  private[operators] def tagged(frames: Seq[(DataFrame, Seq[Column])]): DataFrame =
    frames.zipWithIndex.map { case ((f, cs), t) => f.select(lit(t) +: cs: _*) }.reduce(_ unionAll _)

  /** The one gate. `op` declines with `ineligible`, then "threshold off",
   *  then whatever `local` declines with: given the threshold, it compares
   *  its [[charge]] through [[fit]], then collects, runs its rounds and
   *  returns its result, rounds and comparison, the "local" record's
   *  reason. A decline runs `distributed`. `pin` is cached through both. */
  def gate[T](df: DataFrame, op: String, ineligible: Option[String] = None,
      pin: Option[DataFrame] = None)(local: Long => Either[String, (T, Int, String)])(
      distributed: String => T): T = {
    val threshold = broadcastThreshold(df)
    def attempt: T = local(threshold).fold(distributed, { case (out, rounds, reason) =>
      record(df, op, "local", rounds, reason)
      out
    })
    ineligible.orElse(Option.when(threshold <= 0)("threshold off")) match {
      case Some(declined) => distributed(declined)
      case None => pin.fold(attempt)(withCached(_)(_ => attempt))
    }
  }

  /** A driver-computed result as a local relation: exact size
   *  statistics, so later joins can still broadcast it. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The id types the driver rounds hold as longs. */
  def isIntegral(t: DataType): Boolean =
    t == LongType || t == IntegerType || t == ShortType || t == ByteType

  /** A long id back as a value of integral type `t`. */
  def ofLong(v: Long, t: DataType): Any = t match {
    case IntegerType => v.toInt
    case ShortType => v.toShort
    case ByteType => v.toByte
    case _ => v
  }
}

/**
 * Rows of one to three long columns collected to the driver as primitive
 * arrays: row `i` is `(a(i), b(i), c(i))` as far as the frame has
 * columns (`width`); `aNull(i)` and `bNull(i)` mark a null (its array
 * slot then holds 0, as does the slot of a null `c`). The driver-local
 * regimes of the PageRanks, [[Graph.labelPropagation]] and
 * [[Dedup.connectedComponents]] hold their node ids, seed ids and edge
 * lists (weighted or not) this way and iterate over them instead of
 * starting Spark jobs per round.
 */
private[operators] final class LongPairs(cols: Array[Array[Long]], nulls: java.util.BitSet) {
  def width: Int = cols.length
  def size: Int = cols(0).length
  def a: Array[Long] = cols(0)
  def b: Array[Long] = cols(1)
  def c: Array[Long] = cols(2)
  def aNull(i: Int): Boolean = nulls.get(3 * i)
  def bNull(i: Int): Boolean = nulls.get(3 * i + 1)
}

private[operators] object LongPairs {

  /** The first one to three columns of each frame, cast to long,
   *  collected in one job. Each partition packs its rows into arrays, so
   *  the driver receives a few arrays per partition, not one object per
   *  row. The caller bounds the sizes with [[DriverLocal.charge]]. */
  def collect(frames: DataFrame*): Seq[LongPairs] = {
    val spark = frames.head.sparkSession
    import spark.implicits._
    val widths = frames.map(f => math.min(f.columns.length, 3)).toArray
    val n = frames.length
    // per partition and frame: (frame, columns, null slots 3i + column)
    val parts = DriverLocal.tagged(frames.map(f =>
      f -> f.columns.take(3).map(c => f.col(c).cast("long")).padTo(3, lit(null).cast("long")).toSeq))
      .mapPartitions { rows =>
        val cols = widths.map(w => Array.fill(w)(Array.newBuilder[Long]))
        val nulls = Array.fill(n)(Array.newBuilder[Int])
        rows.foreach { r =>
          val t = r.getInt(0)
          val i = cols(t)(0).length
          for (j <- 0 until widths(t)) {
            if (r.isNullAt(j + 1)) { nulls(t) += 3 * i + j; cols(t)(j) += 0L }
            else cols(t)(j) += r.getLong(j + 1)
          }
        }
        Iterator.tabulate(n)(t => (t, cols(t).map(_.result()), nulls(t).result()))
      }.collect()
    (0 until n).map { t =>
      val mine = parts.filter(_._1 == t)
      val offsets = mine.scanLeft(0)(_ + _._2(0).length)
      val nulls = new java.util.BitSet()
      mine.indices.foreach(p => mine(p)._3.foreach(j => nulls.set(3 * offsets(p) + j)))
      new LongPairs(Array.tabulate(widths(t))(j => mine.flatMap(_._2(j))), nulls)
    }
  }
}
