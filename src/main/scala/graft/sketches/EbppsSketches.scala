package graft.sketches

import scala.jdk.CollectionConverters._

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.sampling.EbppsItemsSketch

/**
 * Facade over the DataSketches EBPPS (exact-bound probability-
 * proportional-to-size) sampling sketch. Unlike VarOpt — which keeps
 * EVERYTHING while under-full and only samples past `k` — EBPPS enforces
 * STRICT proportionality from the first row: every item is kept with
 * probability exactly `c * w_i / W`, where `c = min(k, W / w_max)` is
 * the largest constant keeping all probabilities <= 1. The expected
 * sample size IS that `C`, and the realized size is floor(C) or ceil(C)
 * — the "exact bound" that gives the family its name. Consequence: one
 * heavy item SHRINKS the sample (C = W/w_max) rather than distorting
 * proportionality — where VarOpt would cap the heavy item's probability
 * at 1 and keep sampling the rest. The training-data use: strict-PPS
 * corpus subsampling where the sampling design itself is the contract
 * (importance-sampled eval sets, audit samples whose inclusion
 * probability must be provably proportional to the weight).
 *
 * Determinism contract (mirrors the reservoir/VarOpt facades): the RNG
 * is not seedable. When C is an integer — equal weights with n <= k make
 * C = n — there is no partial item and the sample is the exact item
 * multiset. `n` and the cumulative weight are deterministic ALWAYS,
 * which is what the over-full driver oracle pins.
 *
 * Wire format: the standard DataSketches EBPPS image
 * (`toByteArray(ArrayOfStringsSerDe)`), loadable by any DataSketches
 * consumer.
 */
final class EbppsFacade(val k: Int) {
  import EbppsFacade.SERDE
  private var gadget: EbppsItemsSketch[String] = new EbppsItemsSketch[String](k)

  def update(v: String, weight: Double): Unit = gadget.update(v, weight)

  def merge(other: EbppsFacade): Unit = gadget.merge(other.gadget)

  def merge(bytes: Array[Byte]): Unit =
    gadget.merge(EbppsItemsSketch.heapify[String](Memory.wrap(bytes), SERDE))

  /** Total stream size observed. */
  def n: Long = gadget.getN
  /** Exact total weight observed (deterministic, unlike the sample). */
  def cumulativeWeight: Double = gadget.getCumulativeWeight
  /** Expected sample size C = min(k, W/w_max). */
  def c: Double = gadget.getC
  /**
   * The realized sample. When C is fractional this includes the partial
   * item probabilistically (fresh roll per call) — callers needing
   * determinism must arrange integer C (see class doc).
   */
  def samples: Array[String] = EbppsFacade.itemsOf(gadget)
  def toBytes: Array[Byte] = gadget.toByteArray(SERDE)
}

object EbppsFacade {
  private val SERDE = new ArrayOfStringsSerDe()

  def create(k: Int): EbppsFacade = new EbppsFacade(k)
  def fromBytes(k: Int, bytes: Array[Byte]): EbppsFacade = {
    val f = new EbppsFacade(k)
    f.merge(bytes)
    f
  }

  /** Direct read-out of a serialized sketch image. */
  def readSample(bytes: Array[Byte]): (Long, Double, Array[String]) = {
    val sk = EbppsItemsSketch.heapify[String](Memory.wrap(bytes), SERDE)
    (sk.getN, sk.getCumulativeWeight, itemsOf(sk))
  }

  /** The realized sample; an empty sketch has no result list. */
  private def itemsOf(sk: EbppsItemsSketch[String]): Array[String] =
    Option(sk.getResult).map(_.iterator().asScala.toArray).getOrElse(Array.empty)
}
