package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Clustering, Pq}

/**
 * The lattice k-means trainer behind [[Pq]] and [[Clustering]] against a
 * plain-Scala replay of its rules over collected arrays: seeds are the k
 * lowest-id vectors, argmin ties go to the lower seed id, a centroid is
 * the floor of its cluster's per-dim mean, and a cluster no row picks
 * drops out. Codebooks, codes, cluster labels, ADC hits, recall and MRR
 * must all equal the replay's.
 */
class LatticeKmeansSuite extends AnyFunSuite with GraftSparkSession {

  private type Book = Seq[(Long, Seq[Double])]
  private val dim = 4

  /** Rows given on the lattice: element x is stored as x / 1000, which
   *  quantizes back to exactly x. */
  private def frame(rows: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, v) => (id, v.map(_ / 1000.0).toSeq) }.toDF("id", "vec")
  }

  private def sq(a: Seq[Double], b: Seq[Double]): Double =
    a.indices.map { i => val d = a(i) - b(i); d * d }.sum

  /** Position of the first minimum distance: ties to the earlier centroid. */
  private def nearest(v: Seq[Double], book: Book): Long = {
    val d = book.map(c => sq(v, c._2))
    book(d.indexOf(d.min))._1
  }

  private def lloyd(rows: Seq[(Long, Seq[Double])], k: Int, iters: Int): Book =
    (1 to iters).foldLeft(rows.sortBy(_._1).take(k)) { (book, _) =>
      rows.groupBy { case (_, v) => nearest(v, book) }.toSeq.map { case (label, members) =>
        label -> members.head._2.indices.map { i =>
          math.floor(members.map(_._2(i)).sum / members.size)
        }
      }.sortBy(_._1)
    }

  private def block(v: Seq[Double], b: Int, m: Int): Seq[Double] =
    v.slice(b * dim / m, (b + 1) * dim / m)

  /** (query_id, vec_id, adc, rk) for the `nq` lowest ids, restricted to the
   *  rows `keep` allows for the query. */
  private def adcReplay(rows: Seq[(Long, Seq[Double])], books: Seq[Book], nq: Int, topK: Int)(
      keep: (Seq[Double], Seq[Double]) => Boolean): Seq[(Long, Long, Long, Int)] = {
    val m = books.size
    val codes = rows.map { case (id, v) => id -> books.indices.map(b => nearest(block(v, b, m), books(b))) }
    val vec = rows.toMap
    rows.sortBy(_._1).take(nq).flatMap { case (qid, qv) =>
      codes.filter { case (id, _) => id != qid && keep(qv, vec(id)) }.map { case (id, cs) =>
        val adc = books.indices.map { b =>
          sq(block(qv, b, m), books(b).find(_._1 == cs(b)).get._2)
        }.sum
        (adc, id)
      }.sorted.take(topK).zipWithIndex.map { case ((adc, id), r) => (qid, id, adc.toLong, r + 1) }
    }.sorted
  }

  private def books(bs: Seq[Pq.Codebook]): Seq[Book] =
    bs.map(_.map { case (l, c) => (l, c.toSeq) })

  /** Every codebook-producing path of Pq and Clustering against the replay. */
  private def sameAsReplay(rows: Seq[(Long, Array[Double])], k: Int, iters: Int): Unit = {
    val df = frame(rows)
    val lattice = rows.map { case (id, v) => (id, v.toSeq) }
    val nq = 3
    val topK = 4
    for (m <- Seq(1, 2, 4)) {
      val want = (0 until m).map(b => lloyd(lattice.map { case (id, v) => (id, block(v, b, m)) }, k, iters))
      assert(books(Pq.trainCodebooks(df, "id", "vec", dim, m, k, iters)) === want, s"books m=$m")
      val codes = Pq.encode(df, "id", "vec", dim, m, k, iters).collect()
        .map(r => r.getLong(0) -> (1 to m).map(r.getLong)).toMap
      assert(codes === lattice.map { case (id, v) =>
        id -> (0 until m).map(b => nearest(block(v, b, m), want(b)))
      }.toMap, s"codes m=$m")
      val hits = Pq.adcSearch(df, "id", "vec", dim, m, k, iters, nq, topK).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sorted.toSeq
      assert(hits === adcReplay(lattice, want, nq, topK)((_, _) => true), s"adc m=$m")
      // IVF-PQ: the coarse view trains with the blocks in the same rounds
      val coarse = lloyd(lattice, 3, iters)
      val ivf = Pq.ivfAdcSearch(df, "id", "vec", dim, m, k, iters, coarseK = 3, nprobe = 1, nq, topK)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sorted.toSeq
      assert(ivf === adcReplay(lattice, want, nq, topK) { (qv, v) =>
        val probe = coarse.map(c => (sq(qv, c._2), c._1)).min._2
        nearest(v, coarse) == probe
      }, s"ivf m=$m")
      // recall@topK and MRR against the exact lattice-L2 ranking
      val exact = lattice.sortBy(_._1).take(nq).map { case (qid, qv) =>
        qid -> lattice.filter(_._1 != qid).map { case (id, v) => (sq(qv, v), id) }.sorted.take(topK).map(_._2)
      }
      val approx = hits.groupBy(_._1).map { case (qid, rs) => qid -> rs.sortBy(_._4).map(_._2) }
      val recall = Pq.adcRecall(df, "id", "vec", dim, m, k, iters, nq, topK).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(recall === exact.map { case (qid, ids) =>
        val h = ids.count(approx(qid).contains).toLong
        (qid, h, h * 10000 / topK)
      }, s"recall m=$m")
      val mrr = Pq.adcMrr(df, "id", "vec", dim, m, k, iters, nq, topK).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
      assert(mrr === exact.map { case (qid, ids) =>
        val rank = approx(qid).indexOf(ids.head) + 1L
        (qid, ids.head, rank, if (rank > 0) 10000 / rank else 0L)
      }, s"mrr m=$m")
    }
    val assigned = Clustering.kmeansAssign(df, "id", "vec", k, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = lloyd(lattice, k, iters)
    assert(assigned === lattice.map { case (id, v) => id -> nearest(v, whole) }.toMap)
  }

  private def generated(n: Int, seed: Long): Seq[(Long, Array[Double])] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, Array.fill(dim)(((i % 3) * 40 + r.nextInt(21) - 10).toDouble))
    }
  }

  test("generated vectors, several rounds") {
    sameAsReplay(generated(40, 3L), k = 3, iters = 3)
  }

  test("equidistant ties go to the lower seed id") {
    // rows 2 and 3 sit exactly halfway between seeds 0 and 1 in every block
    val rows = Seq(
      0L -> Array(0.0, 0.0, 0.0, 0.0), 1L -> Array(10.0, 10.0, 10.0, 10.0),
      2L -> Array(5.0, 5.0, 5.0, 5.0), 3L -> Array(5.0, 5.0, 5.0, 5.0),
      4L -> Array(9.0, 11.0, 9.0, 11.0), 5L -> Array(1.0, -1.0, 1.0, -1.0))
    sameAsReplay(rows, k = 2, iters = 0)
    sameAsReplay(rows, k = 2, iters = 2)
    val codes = Pq.encode(frame(rows), "id", "vec", dim, 4, 2, 0).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    assert(codes(2L) === Seq(0L, 0L, 0L, 0L))
  }

  test("a cluster that empties in round 1 drops out") {
    // seed 1 duplicates seed 0, so every tie goes to 0 and cluster 1 is empty
    val rows = Seq(0L -> Array(0.0, 0.0, 0.0, 0.0), 1L -> Array(0.0, 0.0, 0.0, 0.0)) ++
      generated(12, 5L).map { case (id, v) => (id + 2, v) }
    val trained = Pq.trainCodebooks(frame(rows), "id", "vec", dim, 2, 3, 1)
    assert(trained.forall(b => !b.map(_._1).contains(1L) && b.size === 2))
    sameAsReplay(rows, k = 3, iters = 2)
  }

  test("k above the row count, iters = 0, and duplicate vectors") {
    val few = generated(5, 7L)
    sameAsReplay(few, k = 8, iters = 2)
    sameAsReplay(generated(20, 9L), k = 3, iters = 0)
    val dups = generated(6, 11L).flatMap { case (id, v) => Seq((id * 3, v), (id * 3 + 1, v), (id * 3 + 2, v)) }
    sameAsReplay(dups, k = 4, iters = 2)
  }

  test("training jobs do not grow with the number of codebooks") {
    val df = frame(generated(30, 13L))
    def jobs(m: Int): Int = jobsIn(Pq.trainCodebooks(df, "id", "vec", dim, m, 3, 2))
    assert(jobs(4) === jobs(1))
  }
}
