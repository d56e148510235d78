/**
 * Registration of the 92 graft SQL functions — the reference's 18 sketch
 * functions (name surface: shims.scala:32-56) plus the text/vector
 * pipeline primitives. Three mechanisms, mirroring the reference:
 *   1. `SparkSessionExtensions.injectFunction` via [[graft.GraftExtensions]]
 *      (set `spark.sql.extensions=graft.GraftExtensions`);
 *   2. ServiceLoader auto-discovery via
 *      META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider;
 *   3. imperative [[GraftFunctionRegistry.install]] on a live session.
 *
 * Each function carries full `ExpressionInfo` documentation — usage,
 * arguments, examples, group, since — so `DESCRIBE FUNCTION EXTENDED`
 * matches the reference's `FunctionRegistryBase.build`-generated output
 * (reference: shims.scala:86-97).
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionInfo, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.conf.GraftConf

object GraftFunctionRegistry {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def expectArgs(name: String, ns: Seq[Int], args: Seq[Expression]): Unit = {
    if (!ns.contains(args.length)) {
      throw new IllegalArgumentException(
        s"Invalid number of arguments for function $name: expected ${ns.mkString(" or ")}, " +
          s"got ${args.length}")
    }
  }

  /**
   * Build a documented FunctionDescription. `arguments` are (name, doc)
   * pairs rendered into the `Arguments:` section; `examples` are SQL
   * lines (query then result) rendered into `Examples:` — both in the
   * exact format ExpressionInfo validates.
   */
  private def fd(
      name: String,
      usage: String,
      arities: Seq[Int],
      arguments: Seq[(String, String)],
      examples: Seq[(String, String)],
      group: String)(
      builder: Seq[Expression] => Expression): FunctionDescription = {
    val checked: Seq[Expression] => Expression = { args =>
      expectArgs(name, arities, args)
      builder(args)
    }
    val argSection =
      if (arguments.isEmpty) ""
      else "\n    Arguments:\n" + arguments.map { case (a, d) =>
        s"      * $a - $d"
      }.mkString("\n")
    val exSection =
      if (examples.isEmpty) ""
      else "\n    Examples:\n" + examples.map { case (q, r) =>
        s"      > $q\n       $r"
      }.mkString("\n")
    (FunctionIdentifier(name),
      new ExpressionInfo(GraftFunctionRegistry.getClass.getCanonicalName, null, name,
        usage, argSection, exSection, "", group, "0.1.0", "", "built-in"),
      checked)
  }

  private val sketchArg =
    "sketch" -> "a BINARY column of serialized sketches produced by the matching _accumulate"
  private val pctArg =
    "percentage" -> "constant fraction in [0, 1], or an array of them (returns an array)"

  lazy val expressions: Seq[FunctionDescription] = Seq(
    // --- quantiles -----------------------------------------------------
    fd("approx_percentile_ex",
      "_FUNC_(col, percentage) - Returns the approximate percentile(s) of numeric `col`; " +
        "the sketch algorithm and its parameter come from " +
        "spark.sql.dataSketches.quantiles.sketchImpl (default REQ).",
      Seq(2),
      Seq("col" -> "a numeric column (floats are sketched; output preserves the input's type family)",
        pctArg),
      Seq("SELECT _FUNC_(col, 0.95) FROM VALUES (0), (1), (2), (10) AS tab(col)" -> "10.0",
        "SELECT _FUNC_(col, array(0.5, 0.95)) FROM VALUES (0), (1), (2), (10) AS tab(col)"
          -> "[1.0,10.0]"),
      "agg_funcs") { args =>
      SketchOneShot(args, QuantileFamily.fromConf(), "approx_percentile_ex")
    },
    fd("approx_percentile_kll",
      "_FUNC_(col, percentage) - Returns the approximate percentile(s) of `col` via the " +
        "KLL floats sketch (k from spark.sql.dataSketches.quantiles.kll.k).",
      Seq(2),
      Seq("col" -> "a numeric column", pctArg),
      Seq("SELECT _FUNC_(col, 0.5) FROM VALUES (0), (1), (2) AS tab(col)" -> "1.0"),
      "agg_funcs") { args =>
      SketchOneShot(args, QuantileFamily.forAlgo("KLL"), "approx_percentile_kll")
    },
    fd("approx_percentile_req",
      "_FUNC_(col, percentage) - Returns the approximate percentile(s) of `col` via the " +
        "REQ sketch (relative error, most accurate at the tails; k from " +
        "spark.sql.dataSketches.quantiles.req.k).",
      Seq(2),
      Seq("col" -> "a numeric column", pctArg),
      Seq("SELECT _FUNC_(col, 0.5) FROM VALUES (0), (1), (2) AS tab(col)" -> "1.0"),
      "agg_funcs") { args =>
      SketchOneShot(args, QuantileFamily.forAlgo("REQ"), "approx_percentile_req")
    },
    fd("approx_percentile_mergeable",
      "_FUNC_(col, percentage) - Returns the approximate percentile(s) of `col` via the " +
        "classic mergeable DoublesSketch (k from " +
        "spark.sql.dataSketches.quantiles.mergeable.k).",
      Seq(2),
      Seq("col" -> "a numeric column", pctArg),
      Seq("SELECT _FUNC_(col, 0.5) FROM VALUES (0), (1), (2) AS tab(col)" -> "1.0"),
      "agg_funcs") { args =>
      SketchOneShot(args, QuantileFamily.forAlgo("MERGEABLE"), "approx_percentile_mergeable")
    },
    fd("approx_percentile_accumulate",
      "_FUNC_(col) - Aggregates numeric `col` into a serialized quantile sketch (BINARY, " +
        "DataSketches wire format) for later _combine/_estimate.",
      Seq(1),
      Seq("col" -> "a numeric column"),
      Seq("SELECT approx_percentile_estimate(_FUNC_(col), 0.5) FROM VALUES (0), (1), (2) AS tab(col)"
        -> "1.0"),
      "agg_funcs") { args =>
      SketchAccumulate(args, QuantileFamily.fromConf(), "approx_percentile_accumulate")
    },
    fd("approx_percentile_combine",
      "_FUNC_(sketch) - Merges serialized quantile sketches into one (BINARY). Corrupt " +
        "input fails the query (data-integrity error) rather than degrading silently.",
      Seq(1),
      Seq(sketchArg),
      Seq(("SELECT approx_percentile_estimate(_FUNC_(s), 0.5) FROM " +
        "(SELECT approx_percentile_accumulate(col) s FROM VALUES (0), (1), (2) tab(col) GROUP BY col % 2)")
        -> "1.0"),
      "agg_funcs") { args =>
      SketchCombine(args(0), QuantileFamily.fromConf(), "approx_percentile_combine")
    },
    fd("approx_percentile_estimate",
      "_FUNC_(sketch, percentage) - Returns the percentile(s) stored in a serialized " +
        "quantile sketch. Corrupt or unreadable bytes yield NULL.",
      Seq(2),
      Seq(sketchArg, pctArg),
      Seq("SELECT _FUNC_(approx_percentile_accumulate(col), 0.5) FROM VALUES (0), (1), (2) AS tab(col)"
        -> "1.0"),
      "agg_funcs") { args =>
      ApproxPercentileEstimate(args(0), args(1), QuantileFamily.fromConf())
    },
    fd("approx_pmf_estimate",
      "_FUNC_(sketch[, numSplits]) - Returns the probability mass function over " +
        "`numSplits` equi-width buckets of [min, max] from a serialized quantile sketch.",
      Seq(1, 2),
      Seq(sketchArg,
        "numSplits" -> "constant positive bucket count (default 9)"),
      Seq("SELECT _FUNC_(approx_percentile_accumulate(col), 2) FROM VALUES (0), (1), (2), (3) AS tab(col)"
        -> "[0.5,0.5]"),
      "agg_funcs") { args =>
      val numSplits = if (args.length == 2) args(1) else Literal(9)
      ApproxPmfEstimate(args(0), numSplits, QuantileFamily.fromConf())
    },
    fd("approx_cdf_estimate",
      "_FUNC_(sketch[, numSplits]) - Returns the cumulative distribution over " +
        "`numSplits` equi-width buckets of [min, max] from a serialized quantile " +
        "sketch; the final element is always 1.0.",
      Seq(1, 2),
      Seq(sketchArg,
        "numSplits" -> "constant positive bucket count (default 9)"),
      Seq("SELECT _FUNC_(approx_percentile_accumulate(col), 2) FROM VALUES (0), (1), (2), (3) AS tab(col)"
        -> "[0.5,1.0]"),
      "agg_funcs") { args =>
      val numSplits = if (args.length == 2) args(1) else Literal(9)
      ApproxCdfEstimate(args(0), numSplits, QuantileFamily.fromConf())
    },
    fd("approx_rank_estimate",
      "_FUNC_(sketch, value) - Returns the normalized rank of `value` (fraction of " +
        "sketched items strictly below it); `value` may vary per row.",
      Seq(2),
      Seq(sketchArg, "value" -> "a numeric probe value (per-row expression allowed)"),
      Seq("SELECT _FUNC_(approx_percentile_accumulate(col), 2.0) FROM VALUES (0), (1), (2), (3) AS tab(col)"
        -> "0.5"),
      "agg_funcs") { args =>
      ApproxRankEstimate(args(0), args(1), QuantileFamily.fromConf())
    },
    fd("approx_histogram_estimate",
      "_FUNC_(sketch, splits) - Returns the PMF of a serialized quantile sketch " +
        "over EXPLICIT constant ascending split points (bucket i is the mass in " +
        "[splits[i-1], splits[i]); splits.length + 1 buckets) — fixed bins that " +
        "stay comparable across slices, unlike approx_pmf_estimate's per-sketch " +
        "[min, max] bins.",
      Seq(2),
      Seq(sketchArg,
        "splits" -> "constant ascending ARRAY<DOUBLE> of bucket boundaries"),
      Seq("SELECT _FUNC_(approx_percentile_accumulate(col), array(1.0D, 2.0D)) " +
        "FROM VALUES (0), (1), (2), (3) AS tab(col)" -> "[0.25,0.25,0.5]"),
      "agg_funcs") { args =>
      ApproxHistogramEstimate(args(0), args(1), QuantileFamily.fromConf())
    },
    fd("approx_ks_distance",
      "_FUNC_(sketch_a, sketch_b) - Returns the two-sample Kolmogorov-Smirnov " +
        "distance between two serialized quantile sketches (max absolute " +
        "difference of their inclusive ECDFs over all retained quantiles); " +
        "exact while both sketches are pre-compaction. NULL if either side " +
        "is empty or undecodable.",
      Seq(2),
      Seq("sketch_a" -> "a serialized quantile sketch (approx_percentile_accumulate/_combine)",
        "sketch_b" -> "a serialized quantile sketch of the same implementation"),
      Seq(("SELECT _FUNC_(approx_percentile_accumulate(a), approx_percentile_accumulate(b)) " +
        "FROM VALUES (0, 10), (1, 11) AS tab(a, b)") -> "1.0"),
      "agg_funcs") { args =>
      ApproxKsDistance(args(0), args(1), QuantileFamily.fromConf())
    },
    fd("approx_emd_distance",
      "_FUNC_(sketch_a, sketch_b) - Returns the 1-Wasserstein (earth mover's) " +
        "distance between two serialized quantile sketches: the integral of " +
        "|ECDF_a - ECDF_b| over the merged retained support, i.e. the " +
        "distribution shift in VALUE UNITS (the magnitude-sensitive companion " +
        "to approx_ks_distance); exact while both sketches are pre-compaction. " +
        "NULL if either side is empty or undecodable.",
      Seq(2),
      Seq("sketch_a" -> "a serialized quantile sketch (approx_percentile_accumulate/_combine)",
        "sketch_b" -> "a serialized quantile sketch of the same implementation"),
      Seq(("SELECT _FUNC_(approx_percentile_accumulate(a), approx_percentile_accumulate(b)) " +
        "FROM VALUES (0, 10), (1, 11) AS tab(a, b)") -> "10.0"),
      "agg_funcs") { args =>
      ApproxEmdDistance(args(0), args(1), QuantileFamily.fromConf())
    },
    // --- frequent items ------------------------------------------------
    fd("approx_freqitems",
      "_FUNC_(col) - Returns the approximate heavy hitters of a string/integral `col` as " +
        "array<struct<item, estimated>>, most frequent first; exact while the distinct " +
        "count stays below 0.75 * spark.sql.dataSketches.freqItems.maxMapSize.",
      Seq(1),
      Seq("col" -> "a STRING or integral column"),
      Seq("SELECT inline(_FUNC_(col)) FROM VALUES ('a'), ('a'), ('b') AS tab(col)"
        -> "a\t2\n       b\t1"),
      "agg_funcs") { args =>
      SketchOneShot(args, FreqFamily.fromConf(), "approx_freqitems")
    },
    fd("approx_freqitems_accumulate",
      "_FUNC_(col) - Aggregates string `col` into a serialized frequent-items sketch " +
        "(BINARY) for later _combine/_estimate.",
      Seq(1),
      Seq("col" -> "a STRING column"),
      Seq("SELECT inline(approx_freqitems_estimate(_FUNC_(col))) FROM VALUES ('a'), ('a') AS tab(col)"
        -> "a\t2"),
      "agg_funcs") { args =>
      SketchAccumulate(args, FreqFamily.fromConf(), "approx_freqitems_accumulate")
    },
    fd("approx_freqitems_combine",
      "_FUNC_(sketch) - Merges serialized frequent-items sketches into one (BINARY).",
      Seq(1),
      Seq(sketchArg),
      Seq(("SELECT inline(approx_freqitems_estimate(_FUNC_(s))) FROM " +
        "(SELECT approx_freqitems_accumulate(col) s FROM VALUES ('a'), ('b') tab(col) GROUP BY col)")
        -> "a\t1\n       b\t1"),
      "agg_funcs") { args =>
      SketchCombine(args(0), FreqFamily.fromConf(), "approx_freqitems_combine")
    },
    fd("approx_freqitems_estimate",
      "_FUNC_(sketch) - Returns the frequent items stored in a serialized frequent-items " +
        "sketch as array<struct<item, estimated>>. Corrupt bytes yield NULL.",
      Seq(1),
      Seq(sketchArg),
      Seq("SELECT inline(_FUNC_(approx_freqitems_accumulate(col))) FROM VALUES ('a') AS tab(col)"
        -> "a\t1"),
      "agg_funcs") { args =>
      ApproxFreqItemsEstimate(args(0))
    },
    // --- distinct counts -----------------------------------------------
    fd("approx_count_distinct_ex",
      "_FUNC_(col) - Returns the approximate distinct count of a string/integral `col`; " +
        "the sketch algorithm comes from spark.sql.dataSketches.distinctCnt.sketchImpl " +
        "(default CPC).",
      Seq(1),
      Seq("col" -> "a STRING or integral column"),
      Seq("SELECT _FUNC_(col) FROM VALUES (1), (1), (2) AS tab(col)" -> "2"),
      "agg_funcs") { args =>
      SketchOneShot(args, DistinctFamily.fromConf(), "approx_count_distinct_ex")
    },
    fd("approx_count_distinct_cpc",
      "_FUNC_(col) - Returns the approximate distinct count of `col` via the CPC sketch " +
        "(lgK from spark.sql.dataSketches.distinctCnt.cpc.lgK).",
      Seq(1),
      Seq("col" -> "a STRING or integral column"),
      Seq("SELECT _FUNC_(col) FROM VALUES (1), (1), (2) AS tab(col)" -> "2"),
      "agg_funcs") { args =>
      SketchOneShot(args, DistinctFamily.forAlgo("CPC"), "approx_count_distinct_cpc")
    },
    fd("approx_count_distinct_hll",
      "_FUNC_(col) - Returns the approximate distinct count of `col` via the HLL sketch " +
        "(lgK from spark.sql.dataSketches.distinctCnt.hll.lgK). The reference plugin " +
        "runs CPC under this name; graft deliberately runs a true HllSketch.",
      Seq(1),
      Seq("col" -> "a STRING or integral column"),
      Seq("SELECT _FUNC_(col) FROM VALUES (1), (1), (2) AS tab(col)" -> "2"),
      "agg_funcs") { args =>
      SketchOneShot(args, DistinctFamily.forAlgo("HLL"), "approx_count_distinct_hll")
    },
    fd("approx_count_distinct_accumulate",
      "_FUNC_(col) - Aggregates string `col` into a serialized distinct-count sketch " +
        "(BINARY) for later _combine/_estimate.",
      Seq(1),
      Seq("col" -> "a STRING column (cast integral columns to STRING to match the hash domain)"),
      Seq("SELECT approx_count_distinct_estimate(_FUNC_(col)) FROM VALUES ('a'), ('b') AS tab(col)"
        -> "2"),
      "agg_funcs") { args =>
      SketchAccumulate(args, DistinctFamily.fromConf(), "approx_count_distinct_accumulate")
    },
    fd("approx_count_distinct_combine",
      "_FUNC_(sketch) - Merges serialized distinct-count sketches into one (BINARY).",
      Seq(1),
      Seq(sketchArg),
      Seq(("SELECT approx_count_distinct_estimate(_FUNC_(s)) FROM " +
        "(SELECT approx_count_distinct_accumulate(col) s FROM VALUES ('a'), ('b') tab(col) GROUP BY col)")
        -> "2"),
      "agg_funcs") { args =>
      SketchCombine(args(0), DistinctFamily.fromConf(), "approx_count_distinct_combine")
    },
    fd("approx_count_distinct_estimate",
      "_FUNC_(sketch) - Returns the distinct count stored in a serialized distinct-count " +
        "sketch. Corrupt bytes yield NULL.",
      Seq(1),
      Seq(sketchArg),
      Seq("SELECT _FUNC_(approx_count_distinct_accumulate(col)) FROM VALUES ('a') AS tab(col)" -> "1"),
      "agg_funcs") { args =>
      ApproxCountDistinctEstimate(args(0), DistinctFamily.fromConf())
    },
    // --- varopt weighted sampling (beyond the reference surface) ---------
    fd("varopt_sample",
      "_FUNC_(col, weight, k) - Returns a variance-optimal WEIGHTED sample of up to " +
        "`k` values as array<struct<item, weight>>: inclusion probability is " +
        "proportional to weight, and adjusted weights keep subset-sum estimates " +
        "unbiased. Keeps everything (exact weights) while the group has <= k rows.",
      Seq(3),
      Seq("col" -> "a STRING column",
        "weight" -> "a positive DOUBLE weight per row (null/non-positive rows are skipped)",
        "k" -> "constant positive maximum sample size"),
      Seq("SELECT size(_FUNC_(col, w, 10)) FROM VALUES ('a', 2.0), ('b', 1.0) AS tab(col, w)"
        -> "2"),
      "agg_funcs") { args =>
      SketchOneShot(args.take(2), VarOptFamily(intLiteral("varopt_sample", "k", args(2))),
        "varopt_sample")
    },
    fd("varopt_accumulate",
      "_FUNC_(col, weight, k) - Aggregates a weighted string column into a serialized " +
        "varopt sample sketch (BINARY) for later _combine/_estimate.",
      Seq(3),
      Seq("col" -> "a STRING column", "weight" -> "a positive DOUBLE weight per row",
        "k" -> "constant positive maximum sample size"),
      Seq("SELECT varopt_estimate(_FUNC_(col, 1.0, 10)).n FROM VALUES ('a'), ('b') AS tab(col)"
        -> "2"),
      "agg_funcs") { args =>
      SketchAccumulate(args.take(2), VarOptFamily(intLiteral("varopt_accumulate", "k", args(2))),
        "varopt_accumulate")
    },
    fd("varopt_combine",
      "_FUNC_(sketch, k) - Merges serialized varopt sketches into one unbiased " +
        "weighted sample (BINARY).",
      Seq(2),
      Seq(sketchArg, "k" -> "constant positive maximum sample size of the merged sketch"),
      Seq(("SELECT varopt_estimate(_FUNC_(s, 10)).n FROM " +
        "(SELECT varopt_accumulate(col, 1.0, 10) s FROM VALUES ('a'), ('b') tab(col) GROUP BY col)")
        -> "2"),
      "agg_funcs") { args =>
      SketchCombine(args(0), VarOptFamily(intLiteral("varopt_combine", "k", args(1))),
        "varopt_combine")
    },
    fd("varopt_estimate",
      "_FUNC_(sketch) - Reads a serialized varopt sketch: struct<n: total stream " +
        "size, samples: array<struct<item, weight>>>. NULL on corrupt bytes.",
      Seq(1),
      Seq(sketchArg),
      Seq("SELECT _FUNC_(varopt_accumulate(col, 1.0, 10)).n FROM VALUES ('a') AS tab(col)" -> "1"),
      "agg_funcs") { args =>
      VarOptEstimate(args(0))
    },
    // --- EBPPS strict-PPS sampling (beyond the reference surface) --------
    fd("ebpps_sample",
      "_FUNC_(col, weight, k) - Returns an exact-bound PPS sample as array<string>: " +
        "every item is kept with probability EXACTLY c*weight/totalWeight where " +
        "c = min(k, totalWeight/maxWeight) (strict probability-proportional-to-size " +
        "— a heavy item SHRINKS the sample rather than distorting proportionality; " +
        "varopt_sample instead caps heavy items at probability 1). Realized size is " +
        "floor or ceil of the expected size c. Deterministic when c is an integer " +
        "(e.g. equal weights with <= k rows).",
      Seq(3),
      Seq("col" -> "a STRING column",
        "weight" -> "a positive DOUBLE weight per row (null/non-positive rows are skipped)",
        "k" -> "constant positive maximum sample size"),
      Seq("SELECT sort_array(_FUNC_(col, 1.0, 10)) FROM VALUES ('a'), ('b') AS tab(col)"
        -> "[\"a\",\"b\"]"),
      "agg_funcs") { args =>
      SketchOneShot(args.take(2), EbppsFamily(intLiteral("ebpps_sample", "k", args(2))),
        "ebpps_sample")
    },
    fd("ebpps_accumulate",
      "_FUNC_(col, weight, k) - Aggregates a weighted string column into a serialized " +
        "EBPPS sample sketch (BINARY) for later _combine/_estimate.",
      Seq(3),
      Seq("col" -> "a STRING column", "weight" -> "a positive DOUBLE weight per row",
        "k" -> "constant positive maximum sample size"),
      Seq("SELECT ebpps_estimate(_FUNC_(col, 1.0, 10)).n FROM VALUES ('a'), ('b') AS tab(col)"
        -> "2"),
      "agg_funcs") { args =>
      SketchAccumulate(args.take(2), EbppsFamily(intLiteral("ebpps_accumulate", "k", args(2))),
        "ebpps_accumulate")
    },
    fd("ebpps_combine",
      "_FUNC_(sketch, k) - Merges serialized EBPPS sketches into one strict-PPS " +
        "sample (BINARY); n and cumulative weight are exact across the merge.",
      Seq(2),
      Seq(sketchArg, "k" -> "constant positive maximum sample size of the merged sketch"),
      Seq(("SELECT ebpps_estimate(_FUNC_(s, 10)).n FROM " +
        "(SELECT ebpps_accumulate(col, 1.0, 10) s FROM VALUES ('a'), ('b') tab(col) GROUP BY col)")
        -> "2"),
      "agg_funcs") { args =>
      SketchCombine(args(0), EbppsFamily(intLiteral("ebpps_combine", "k", args(1))),
        "ebpps_combine")
    },
    fd("ebpps_estimate",
      "_FUNC_(sketch) - Reads a serialized EBPPS sketch: struct<n: total stream " +
        "size, cum_weight: exact total weight, samples: array<string>>. NULL on " +
        "corrupt bytes.",
      Seq(1),
      Seq(sketchArg),
      Seq("SELECT _FUNC_(ebpps_accumulate(col, 1.0, 10)).n FROM VALUES ('a') AS tab(col)" -> "1"),
      "agg_funcs") { args =>
      EbppsEstimate(args(0))
    },
    // --- reservoir sampling (beyond the reference surface) ---------------
    fd("reservoir_sample",
      "_FUNC_(col, k) - Returns a uniform random sample of up to `k` values of a " +
        "string column (mergeable one-pass reservoir; per-partition partial " +
        "reservoirs union into an unbiased whole-stream sample). Keeps everything " +
        "while the group has <= k rows.",
      Seq(2),
      Seq("col" -> "a STRING column",
        "k" -> "constant positive maximum sample size"),
      Seq("SELECT sort_array(_FUNC_(col, 10)) FROM VALUES ('a'), ('b') AS tab(col)"
        -> "[\"a\",\"b\"]"),
      "agg_funcs") { args =>
      SketchOneShot(args.take(1), ReservoirFamily(intLiteral("reservoir_sample", "k", args(1))),
        "reservoir_sample")
    },
    fd("reservoir_accumulate",
      "_FUNC_(col, k) - Aggregates a string column into a serialized reservoir " +
        "sample sketch (BINARY) for later _combine/_estimate.",
      Seq(2),
      Seq("col" -> "a STRING column", "k" -> "constant positive maximum sample size"),
      Seq("SELECT reservoir_estimate(_FUNC_(col, 10)).n FROM VALUES ('a'), ('b') AS tab(col)"
        -> "2"),
      "agg_funcs") { args =>
      SketchAccumulate(args.take(1),
        ReservoirFamily(intLiteral("reservoir_accumulate", "k", args(1))), "reservoir_accumulate")
    },
    fd("reservoir_combine",
      "_FUNC_(sketch, k) - Merges serialized reservoir sketches into one unbiased " +
        "reservoir (BINARY), downsampling to `k` if needed.",
      Seq(2),
      Seq(sketchArg, "k" -> "constant positive maximum sample size of the merged reservoir"),
      Seq(("SELECT reservoir_estimate(_FUNC_(s, 10)).n FROM " +
        "(SELECT reservoir_accumulate(col, 10) s FROM VALUES ('a'), ('b') tab(col) GROUP BY col)")
        -> "2"),
      "agg_funcs") { args =>
      SketchCombine(args(0), ReservoirFamily(intLiteral("reservoir_combine", "k", args(1))),
        "reservoir_combine")
    },
    fd("reservoir_estimate",
      "_FUNC_(sketch) - Reads a serialized reservoir sketch: " +
        "struct<n: total stream size, samples: the sampled values>. NULL on corrupt bytes.",
      Seq(1),
      Seq(sketchArg),
      Seq("SELECT _FUNC_(reservoir_accumulate(col, 10)).n FROM VALUES ('a') AS tab(col)" -> "1"),
      "agg_funcs") { args =>
      ReservoirEstimate(args(0))
    },
    // --- theta set-operation sketches (beyond the reference surface) -----
    fd("theta_accumulate",
      "_FUNC_(col) - Aggregates a string/integral `col` into a serialized theta " +
        "sketch (BINARY) supporting set operations: union, intersection, and " +
        "difference cardinalities between independently-sketched sets. Exact below " +
        "2^spark.sql.dataSketches.theta.lgK distinct items.",
      Seq(1),
      Seq("col" -> "a STRING or integral column"),
      Seq("SELECT theta_estimate(_FUNC_(col)) FROM VALUES ('a'), ('b'), ('a') AS tab(col)" -> "2"),
      "agg_funcs") { args =>
      SketchAccumulate(args, ThetaFamily.fromConf(), "theta_accumulate")
    },
    fd("theta_union",
      "_FUNC_(sketch) - Merges serialized theta sketches into their union (BINARY). " +
        "_FUNC_(a, b[, lgNomEntries]) is Spark's built-in union of two sketches.",
      Seq(1, 2, 3),
      Seq(sketchArg),
      Seq(("SELECT theta_estimate(_FUNC_(s)) FROM " +
        "(SELECT theta_accumulate(col) s FROM VALUES ('a'), ('b') tab(col) GROUP BY col)") -> "2"),
      "agg_funcs") { args =>
      if (args.length == 1) SketchCombine(args(0), ThetaFamily.fromConf(), "theta_union")
      else FunctionRegistry.builtin.lookupFunctionBuilder(FunctionIdentifier("theta_union")).get(args)
    },
    fd("theta_intersect",
      "_FUNC_(sketch) - Intersects serialized theta sketches (BINARY); NULL for an " +
        "empty group (an empty intersection has no defined identity).",
      Seq(1),
      Seq(sketchArg),
      Seq(("SELECT theta_estimate(_FUNC_(s)) FROM " +
        "(SELECT theta_accumulate(col) s FROM VALUES ('a'), ('b') tab(col) GROUP BY col)") -> "0"),
      "agg_funcs") { args =>
      SketchCombine(args(0), ThetaIntersection(GraftConf.thetaLgK), "theta_intersect")
    },
    fd("theta_a_not_b",
      "_FUNC_(a, b) - The theta difference sketch A \\ B of two serialized sketches " +
        "(BINARY); NULL on corrupt input.",
      Seq(2),
      Seq("a" -> "a BINARY theta sketch", "b" -> "a BINARY theta sketch"),
      Seq(("SELECT theta_estimate(_FUNC_(theta_accumulate(col), theta_accumulate(col))) " +
        "FROM VALUES ('a') AS tab(col)") -> "0"),
      "agg_funcs") { args =>
      ThetaANotB(args(0), args(1))
    },
    fd("theta_intersect_pair",
      "_FUNC_(a, b) - The theta intersection sketch A ∩ B of two serialized " +
        "sketches (BINARY); NULL on corrupt input. The per-row companion to the " +
        "theta_intersect aggregate, for set algebra over sketches already joined " +
        "side by side (pairwise overlap matrices, day-by-day retention grids).",
      Seq(2),
      Seq("a" -> "a BINARY theta sketch", "b" -> "a BINARY theta sketch"),
      Seq(("SELECT theta_estimate(_FUNC_(theta_accumulate(col), theta_accumulate(col))) " +
        "FROM VALUES ('a') AS tab(col)") -> "1",
        ("SELECT theta_estimate(_FUNC_(theta_accumulate(a), theta_accumulate(b))) " +
        "FROM VALUES ('x', 'y') AS tab(a, b)") -> "0"),
      "agg_funcs") { args =>
      ThetaIntersectPair(args(0), args(1))
    },
    fd("theta_union_pair",
      "_FUNC_(a, b) - The theta union sketch A ∪ B of two serialized sketches " +
        "(BINARY); NULL on corrupt input. The per-row companion to the theta_union " +
        "aggregate.",
      Seq(2),
      Seq("a" -> "a BINARY theta sketch", "b" -> "a BINARY theta sketch"),
      Seq(("SELECT theta_estimate(_FUNC_(theta_accumulate(a), theta_accumulate(b))) " +
        "FROM VALUES ('x', 'y') AS tab(a, b)") -> "2"),
      "agg_funcs") { args =>
      ThetaUnionPair(args(0), args(1), GraftConf.thetaLgK)
    },
    fd("theta_containment",
      "_FUNC_(a, b) - containment |A ∩ B| / |A| of two serialized theta sketches " +
        "(DOUBLE) — the decontamination measure (what fraction of benchmark A " +
        "appears in corpus B), which Jaccard understates when B is much larger. " +
        "NULL on corrupt input and for an empty A.",
      Seq(2),
      Seq("a" -> "a BINARY theta sketch", "b" -> "a BINARY theta sketch"),
      Seq(("SELECT _FUNC_(theta_accumulate(a), theta_accumulate(b)) " +
        "FROM VALUES ('x', 'x') AS tab(a, b)") -> "1.0"),
      "agg_funcs") { args =>
      ThetaContainment(args(0), args(1))
    },
    fd("theta_estimate",
      "_FUNC_(sketch) - The cardinality stored in a serialized theta sketch; NULL on " +
        "corrupt bytes.",
      Seq(1),
      Seq(sketchArg),
      Seq("SELECT _FUNC_(theta_accumulate(col)) FROM VALUES ('a'), ('b') AS tab(col)" -> "2"),
      "agg_funcs") { args =>
      ThetaEstimate(args(0))
    },
    // --- tuple sketches: distinct keys + per-key values (beyond reference) -
    fd("tuple_accumulate",
      "_FUNC_(key, value[, mode]) - Aggregates (key, DOUBLE value) pairs into a " +
        "serialized tuple sketch (BINARY): a theta sketch whose retained keys each " +
        "carry a double summary. `mode` picks how repeated values of the SAME key " +
        "combine: 'sum' (default), 'min', 'max', or 'one' (constant 1.0). Both the " +
        "distinct-key count and the summed summaries are exact below " +
        "2^spark.sql.dataSketches.tuple.lgK distinct keys.",
      Seq(2, 3),
      Seq("key" -> "a STRING or integral column", "value" -> "a DOUBLE column",
        "mode" -> "constant string: 'sum', 'min', 'max', or 'one' (default 'sum')"),
      Seq(("SELECT tuple_estimate(_FUNC_(k, v)).value_sum FROM " +
        "VALUES ('a', 1.0), ('a', 2.0), ('b', 4.0) AS tab(k, v)") -> "7.0"),
      "agg_funcs") { args =>
      val mode = if (args.length > 2) {
        stringLiteral("tuple_accumulate", "mode", args(2))
      } else "sum"
      graft.sketches.TupleSketchFacade.parseMode(mode)
      SketchAccumulate(args.take(2), TupleFamily.fromConf(mode), "tuple_accumulate")
    },
    fd("tuple_union",
      "_FUNC_(sketch[, mode]) - Merges serialized tuple sketches into their union " +
        "(BINARY); summaries of keys on both sides combine with `mode`'s union rule.",
      Seq(1, 2),
      Seq(sketchArg,
        "mode" -> ("constant string: 'sum', 'min', 'max', or 'one' (default 'sum'); " +
          "must match the accumulate mode")),
      Seq(("SELECT tuple_estimate(_FUNC_(s)).distinct_keys FROM " +
        "(SELECT tuple_accumulate(k, v) s FROM VALUES ('a', 1.0), ('b', 1.0) tab(k, v) " +
        "GROUP BY k)") -> "2"),
      "agg_funcs") { args =>
      val mode = if (args.length > 1) stringLiteral("tuple_union", "mode", args(1)) else "sum"
      graft.sketches.TupleSketchFacade.parseMode(mode)
      SketchCombine(args(0), TupleFamily.fromConf(mode), "tuple_union")
    },
    fd("tuple_intersect",
      "_FUNC_(sketch[, mode]) - Intersects serialized tuple sketches (BINARY); NULL " +
        "for an empty group. Summaries of keys retained on both sides combine with " +
        "`mode`'s intersection rule ('sum' adds the two sides, 'min'/'max' take the " +
        "extremum).",
      Seq(1, 2),
      Seq(sketchArg,
        "mode" -> "constant string: 'sum', 'min', 'max', or 'one' (default 'sum')"),
      Seq(("SELECT tuple_estimate(_FUNC_(s)).distinct_keys FROM " +
        "(SELECT tuple_accumulate(k, v) s FROM VALUES ('a', 1.0), ('b', 1.0) tab(k, v) " +
        "GROUP BY k)") -> "0"),
      "agg_funcs") { args =>
      val mode = if (args.length > 1) stringLiteral("tuple_intersect", "mode", args(1)) else "sum"
      graft.sketches.TupleSketchFacade.parseMode(mode)
      SketchCombine(args(0), TupleIntersection(mode), "tuple_intersect")
    },
    fd("tuple_a_not_b",
      "_FUNC_(a, b) - The tuple difference sketch A \\ B of two serialized tuple " +
        "sketches (BINARY), keeping A's summaries; NULL on corrupt input.",
      Seq(2),
      Seq("a" -> "a BINARY tuple sketch", "b" -> "a BINARY tuple sketch"),
      Seq(("SELECT tuple_estimate(_FUNC_(tuple_accumulate(k, v), tuple_accumulate(k, v)))" +
        ".distinct_keys FROM VALUES ('a', 1.0) AS tab(k, v)") -> "0"),
      "agg_funcs") { args =>
      TupleANotB(args(0), args(1))
    },
    fd("tuple_estimate",
      "_FUNC_(sketch) - The STRUCT<distinct_keys BIGINT, value_sum DOUBLE> stored in a " +
        "serialized tuple sketch: the distinct-key estimate and the estimated sum of " +
        "per-key summary values; NULL on corrupt bytes.",
      Seq(1),
      Seq(sketchArg),
      Seq(("SELECT _FUNC_(tuple_accumulate(k, v)).distinct_keys FROM " +
        "VALUES ('a', 1.0), ('b', 2.0) AS tab(k, v)") -> "2"),
      "agg_funcs") { args =>
      TupleEstimate(args(0))
    },
    fd("approx_percentile_tdigest",
      "_FUNC_(col, percentage) - Returns the approximate percentile(s) of `col` via a " +
        "t-digest (compression k from spark.sql.dataSketches.tdigest.k): double-precision " +
        "values with rank error concentrated at the distribution tails (~ q(1-q)).",
      Seq(2),
      Seq("col" -> "a numeric column", pctArg),
      Seq("SELECT _FUNC_(col, 0.5) FROM VALUES (0.0), (1.0), (2.0) AS tab(col)" -> "1.0"),
      "agg_funcs") { args =>
      SketchOneShot(args, TDigestFamily.fromConf(), "approx_percentile_tdigest")
    },
    fd("tdigest_accumulate",
      "_FUNC_(col) - Aggregates a numeric column into a serialized t-digest (BINARY), " +
        "the standard DataSketches t-digest image; mergeable with tdigest_combine.",
      Seq(1),
      Seq("col" -> "a numeric column"),
      Seq(("SELECT tdigest_estimate(_FUNC_(col), 0.5) FROM " +
        "VALUES (0.0), (1.0), (2.0) AS tab(col)") -> "1.0"),
      "agg_funcs") { args =>
      SketchAccumulate(args, TDigestFamily.fromConf(), "tdigest_accumulate")
    },
    fd("tdigest_combine",
      "_FUNC_(sketch) - Merges serialized t-digests into one digest (BINARY); digests " +
        "merge associatively with bounded error growth, so per-group digests roll up " +
        "to any coarser grouping without touching the raw data.",
      Seq(1),
      Seq(sketchArg),
      Seq(("SELECT tdigest_estimate(_FUNC_(s), 0.5) FROM (SELECT " +
        "tdigest_accumulate(col) s FROM VALUES (0.0), (1.0), (2.0) tab(col) " +
        "GROUP BY col)") -> "1.0"),
      "agg_funcs") { args =>
      SketchCombine(args(0), TDigestFamily.fromConf(), "tdigest_combine")
    },
    fd("tdigest_estimate",
      "_FUNC_(sketch, rank) - The approximate quantile at normalized `rank` (in [0,1]) " +
        "stored in a serialized t-digest; NULL on corrupt bytes or an empty digest.",
      Seq(2),
      Seq(sketchArg, "rank" -> "a DOUBLE normalized rank in [0,1]"),
      Seq(("SELECT _FUNC_(tdigest_accumulate(col), 1.0d) FROM " +
        "VALUES (0.0), (1.0), (2.0) AS tab(col)") -> "2.0"),
      "agg_funcs") { args =>
      TDigestEstimate(args(0), args(1))
    },
    fd("tdigest_rank",
      "_FUNC_(sketch, value) - The approximate normalized rank (in [0,1]) of `value` " +
        "in a serialized t-digest; NULL on corrupt bytes or an empty digest.",
      Seq(2),
      Seq(sketchArg, "value" -> "a DOUBLE value"),
      Seq(("SELECT _FUNC_(tdigest_accumulate(col), 0.0d) FROM " +
        "VALUES (0.0), (1.0), (2.0) AS tab(col)") -> "0.16666666666666666"),
      "agg_funcs") { args =>
      TDigestRank(args(0), args(1))
    },
    fd("approx_partition_bounds",
      "_FUNC_(col, n) - Returns n-1 approximate split points (ARRAY, input type " +
        "preserved) dividing `col` into `n` near-equal-frequency ranges, from ONE " +
        "KLL-sketch pass (k from spark.sql.dataSketches.quantiles.kll.k) - the " +
        "range-partition-boundary planner for writing a sorted/partitioned copy of a " +
        "table too large to sort globally.",
      Seq(2),
      Seq("col" -> "a numeric column", "n" -> "constant partition count >= 2"),
      Seq(("SELECT _FUNC_(col, 2) FROM VALUES (0.0), (1.0), (2.0), (3.0) " +
        "AS tab(col)") -> "[2.0]"),
      "agg_funcs") { args =>
      val n = intLiteral("approx_partition_bounds", "n", args(1))
      if (n < 2) {
        throw new IllegalArgumentException(
          s"Function approx_partition_bounds requires n to be at least 2, got $n")
      }
      val pcts = org.apache.spark.sql.catalyst.expressions.Literal.create(
        (1 until n).map(_.toDouble / n).toArray,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false))
      SketchOneShot(Seq(args(0), pcts), QuantileFamily.forAlgo("KLL"), "approx_partition_bounds")
    },
    fd("approx_percentile_str",
      "_FUNC_(col, percentage) - Returns the approximate percentile(s) of a STRING " +
        "column under natural codepoint ordering (classic mergeable ItemsSketch, k " +
        "from spark.sql.dataSketches.quantiles.mergeable.k) - order statistics no " +
        "numeric quantile family can express (e.g. the median url).",
      Seq(2),
      Seq("col" -> "a STRING column", pctArg),
      Seq("SELECT _FUNC_(col, 0.5) FROM VALUES ('a'), ('b'), ('c') AS tab(col)" -> "b"),
      "agg_funcs") { args =>
      SketchOneShot(args, StringQuantileFamily(GraftConf.quantileMergeableK), "approx_percentile_str")
    },
    fd("approx_partition_bounds_str",
      "_FUNC_(col, n) - Returns n-1 approximate split keys (ARRAY<STRING>) dividing a " +
        "string key column into `n` near-equal-frequency ranges from one sketch pass - " +
        "the range-partition planner for key types (url/domain/doc-id) the numeric " +
        "approx_partition_bounds cannot cover.",
      Seq(2),
      Seq("col" -> "a STRING column", "n" -> "constant partition count >= 2"),
      Seq(("SELECT _FUNC_(col, 2) FROM VALUES ('a'), ('b'), ('c'), ('d') " +
        "AS tab(col)") -> "[\"c\"]"),
      "agg_funcs") { args =>
      val n = intLiteral("approx_partition_bounds_str", "n", args(1))
      if (n < 2) {
        throw new IllegalArgumentException(
          s"Function approx_partition_bounds_str requires n to be at least 2, got $n")
      }
      val pcts = org.apache.spark.sql.catalyst.expressions.Literal.create(
        (1 until n).map(_.toDouble / n).toArray,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false))
      SketchOneShot(Seq(args(0), pcts), StringQuantileFamily(GraftConf.quantileMergeableK),
        "approx_partition_bounds_str")
    },
    fd("fdt_accumulate",
      "_FUNC_(dims) - Aggregates ARRAY<STRING> tuples (dimension values + id, any " +
        "arity) into a serialized ArrayOfStrings tuple sketch (BINARY) for " +
        "frequent-DISTINCT-tuple analysis: each distinct tuple is retained once, so " +
        "downstream fdt_topk counts distinct ids per dimension group, robust to " +
        "repeated ingestion. Exact below 2^spark.sql.dataSketches.tuple.lgK distinct " +
        "tuples. Rows with a null array or null element are skipped.",
      Seq(1),
      Seq("dims" -> "an ARRAY<STRING> column of tuple values"),
      Seq(("SELECT fdt_topk(_FUNC_(array(s, id)), array(0), 1)[0].n_distinct FROM " +
        "VALUES ('a', 'x'), ('a', 'y'), ('a', 'y') AS tab(s, id)") -> "2"),
      "agg_funcs") { args =>
      SketchAccumulate(args, FdtFamily.fromConf(), "fdt_accumulate")
    },
    fd("fdt_union",
      "_FUNC_(sketch) - Merges serialized frequent-distinct-tuple sketches into " +
        "their union (BINARY).",
      Seq(1),
      Seq(sketchArg),
      Seq(("SELECT fdt_topk(_FUNC_(s), array(0), 1)[0].key FROM (SELECT " +
        "fdt_accumulate(array(v, v)) s FROM VALUES ('a'), ('b') tab(v) " +
        "GROUP BY v)") -> "a"),
      "agg_funcs") { args =>
      SketchCombine(args(0), FdtFamily.fromConf(), "fdt_union")
    },
    fd("fdt_topk",
      "_FUNC_(sketch, indices, k) - The top-k dimension groups by estimated " +
        "distinct-tuple count from a serialized frequent-distinct-tuple sketch: " +
        "retained distinct tuples grouped by the constant `indices` positions " +
        "(comma-joined into `key`), as ARRAY<STRUCT<key STRING, n_distinct BIGINT>> " +
        "ordered by estimate descending then key ascending; NULL on corrupt bytes.",
      Seq(3),
      Seq(sketchArg,
        "indices" -> "constant ARRAY of integer tuple positions forming the group key",
        "k" -> "constant positive group count"),
      Seq(("SELECT _FUNC_(fdt_accumulate(array(s, id)), array(0), 2) FROM " +
        "VALUES ('a', 'x'), ('a', 'y'), ('b', 'z') AS tab(s, id)") ->
        "[{\"key\":\"a\",\"n_distinct\":2},{\"key\":\"b\",\"n_distinct\":1}]"),
      "agg_funcs") { args =>
      FdtTopK(args(0), intArrayLiteral("fdt_topk", "indices", args(1)),
        intLiteral("fdt_topk", "k", args(2)))
    },
    fd("bloom_accumulate",
      "_FUNC_(col[, maxItems, fpp]) - Aggregates string/long values into a serialized " +
        "DataSketches BloomFilter (BINARY): approximate set membership with NO false " +
        "negatives and a cross-system wire image. `maxItems`/`fpp` size the bit array " +
        "(defaults 100000, 0.01); partials built with the same pair are union-compatible.",
      Seq(1, 2, 3),
      Seq("col" -> "a STRING or integral column",
        "maxItems" -> "constant expected distinct-item count (default 100000)",
        "fpp" -> "constant target false-positive probability in (0,1) (default 0.01)"),
      Seq(("SELECT bloom_might_contain(_FUNC_(col), 'a') FROM " +
        "VALUES ('a'), ('b') AS tab(col)") -> "true"),
      "agg_funcs") { args =>
      val (m, f) = bloomParams("bloom_accumulate", args)
      SketchAccumulate(args.take(1), BloomFamily(m, f), "bloom_accumulate")
    },
    fd("bloom_union",
      "_FUNC_(sketch[, maxItems, fpp]) - Merges serialized BloomFilters (bitwise OR): " +
        "membership in ANY input filter. All inputs must be built with the same " +
        "maxItems/fpp pair.",
      Seq(1, 2, 3),
      Seq(sketchArg,
        "maxItems" -> "constant expected distinct-item count (default 100000)",
        "fpp" -> "constant target false-positive probability in (0,1) (default 0.01)"),
      Seq(("SELECT bloom_might_contain(_FUNC_(s), 'a') FROM " +
        "(SELECT bloom_accumulate(col) s FROM VALUES ('a'), ('b') tab(col) " +
        "GROUP BY col)") -> "true"),
      "agg_funcs") { args =>
      val (m, f) = bloomParams("bloom_union", args)
      SketchCombine(args(0), BloomFamily(m, f), "bloom_union")
    },
    fd("bloom_intersect",
      "_FUNC_(sketch[, maxItems, fpp]) - Intersects serialized BloomFilters (bitwise " +
        "AND): membership in EVERY input filter — a set operation Spark's native bloom " +
        "cannot express. NULL for an empty group.",
      Seq(1, 2, 3),
      Seq(sketchArg,
        "maxItems" -> "constant expected distinct-item count (default 100000)",
        "fpp" -> "constant target false-positive probability in (0,1) (default 0.01)"),
      Seq(("SELECT bloom_might_contain(_FUNC_(s), 'b') FROM (SELECT " +
        "bloom_accumulate(col) s FROM VALUES ('a'), ('b') tab(col) GROUP BY col)")
        -> "false"),
      "agg_funcs") { args =>
      val (m, f) = bloomParams("bloom_intersect", args)
      SketchCombine(args(0), BloomIntersection(m, f), "bloom_intersect")
    },
    fd("bloom_might_contain",
      "_FUNC_(sketch, value) - TRUE if `value` may be in the filter, FALSE if it " +
        "definitely is not (no false negatives); NULL on corrupt bytes. Values hash " +
        "per the DataSketches standard, so filters built by other DataSketches " +
        "consumers answer correctly.",
      Seq(2),
      Seq(sketchArg, "value" -> "a STRING or integral value to probe"),
      Seq(("SELECT _FUNC_(bloom_accumulate(col), 'zzz') FROM " +
        "VALUES ('a'), ('b') AS tab(col)") -> "false"),
      "predicate_funcs") { args =>
      BloomMightContain(args(0), args(1))
    },
    // --- text pipeline ---------------------------------------------------
    fd("graft_simhash",
      "_FUNC_(text) - Returns the 64-bit SimHash fingerprint of `text` (lower-cased " +
        "whitespace tokens) as 16 lowercase hex chars; near-identical documents get " +
        "bitwise-close fingerprints.",
      Seq(1),
      Seq("text" -> "a STRING column"),
      Seq("SELECT length(_FUNC_('hello world'))" -> "16"),
      "hash_funcs") { args =>
      SimHash64(args(0))
    },
    fd("graft_hamming_hex",
      "_FUNC_(a, b) - Returns the bitwise hamming distance between two hex fingerprints; " +
        "non-hex or missing digits count as a full 4-bit mismatch.",
      Seq(2),
      Seq("a" -> "a hex STRING", "b" -> "a hex STRING"),
      Seq("SELECT _FUNC_('ff', '0f')" -> "4"),
      "hash_funcs") { args =>
      HammingHex(args(0), args(1))
    },
    fd("graft_fold_accents",
      "_FUNC_(text) - Strips diacritics (NFD-decompose, drop combining marks, " +
        "NFC-recompose): á→a, ñ→n, ü→u etc. Non-Latin scripts pass through; " +
        "pure-ASCII inputs short-circuit.",
      Seq(1),
      Seq("text" -> "a STRING column"),
      Seq("SELECT _FUNC_('café')" -> "cafe"),
      "string_funcs") { args =>
      FoldAccents(args(0))
    },
    fd("graft_bloom_agg",
      "_FUNC_(value[, expectedItems]) - Aggregates values of any atomic type into a " +
        "serialized bloom filter (BINARY) keyed by xxhash64, sized for expectedItems " +
        "(default 1000000). Probe with graft_might_contain. Wraps Spark's runtime-filter " +
        "bloom aggregate: partial filters OR-merge, so the shuffle carries one filter " +
        "per partition, never the values.",
      Seq(1, 2),
      Seq("value" -> "the column to add to the filter",
        "expectedItems" -> "expected distinct count (a constant literal; sizes the filter)"),
      Seq(("SELECT graft_might_contain((SELECT graft_bloom_agg(c) " +
        "FROM VALUES ('x') AS t(c)), 'x')") -> "true"),
      "agg_funcs") { args =>
      val hashed = new XxHash64(Seq(args(0)), 42L)
      if (args.length == 1) new BloomFilterAggregate(hashed)
      else {
        // an INT literal (`graft_bloom_agg(c, 10)`) must widen to the
        // BIGINT the underlying aggregate requires; Cast of a foldable
        // stays foldable, so its own literal check still passes
        new BloomFilterAggregate(hashed,
          org.apache.spark.sql.catalyst.expressions.Cast(args(1),
            org.apache.spark.sql.types.LongType))
      }
    },
    fd("graft_might_contain",
      "_FUNC_(bloom, value) - Probes a graft_bloom_agg filter: false means the value " +
        "was DEFINITELY never added; true means it may have been (false-positive rate " +
        "set by the filter size).",
      Seq(2),
      Seq("bloom" -> "a BINARY bloom filter from graft_bloom_agg",
        "value" -> "the value to probe (hashed the same way as at build)"),
      Seq(("SELECT _FUNC_((SELECT graft_bloom_agg(c) FROM VALUES ('x') AS t(c)), 'y')")
        -> "false"),
      "predicate_funcs") { args =>
      // NOT Spark's BloomFilterMightContain: its codegen breaks (Janino
      // cast-vs-subtraction ambiguity) when the probe side folds to a
      // negative long literal, dropping the projection to interpreted
      SparkBloomMightContain(args(0), new XxHash64(Seq(args(1)), 42L))
    },
    fd("graft_dot",
      "_FUNC_(a, b) - Returns the dot product of two array<double> columns as a " +
        "primitive loop (bit-identical to sequential summation).",
      Seq(2),
      Seq("a" -> "an ARRAY<DOUBLE> column", "b" -> "an ARRAY<DOUBLE> column"),
      Seq("SELECT _FUNC_(array(1d, 2d), array(3d, 4d))" -> "11.0"),
      "math_funcs") { args =>
      DotProduct(args(0), args(1))
    },
    fd("graft_marker_hits",
      "_FUNC_(text, w1, ..., wN) - Returns exact token-equality counts of up to 32 " +
        "constant marker words over one whitespace tokenization of lower(trim(text)), " +
        "as array<long> in marker order. One hash lookup per token.",
      (2 to 33),
      Seq("text" -> "a STRING column",
        "w1..wN" -> "constant marker words (each a string literal)"),
      Seq("SELECT _FUNC_('the cat the', 'the', 'cat')" -> "[2,1]"),
      "string_funcs") { args =>
      MarkerHits(args(0),
        args.tail.zipWithIndex.map { case (e, i) =>
          stringLiteral("graft_marker_hits", s"w${i + 1}", e)
        })
    },
    fd("graft_normalize_unicode",
      "_FUNC_(text, form) - Unicode-normalizes `text` to the constant `form` " +
        "(NFC, NFD, NFKC, NFKD) via java.text.Normalizer, with an ASCII fast " +
        "path. NFC canonicalization before hash-keyed dedup makes composed and " +
        "decomposed accent encodings of the same page collapse.",
      Seq(2),
      Seq("text" -> "a STRING column",
        "form" -> "constant normalization form: 'NFC', 'NFD', 'NFKC' or 'NFKD'"),
      Seq("SELECT _FUNC_('cafe\u0301', 'NFC') = 'café'" -> "true"),
      "string_funcs") { args =>
      val form = stringLiteral("graft_normalize_unicode", "form", args(1))
        .toUpperCase(java.util.Locale.ROOT)
      require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form),
        s"Function graft_normalize_unicode: form must be NFC, NFD, NFKC or NFKD, got $form")
      NormalizeUnicode(args(0), form)
    },
    fd("graft_filter_lines",
      "_FUNC_(text, minWords, requirePunct, m1, ..., mN) - C4-style line-level " +
        "cleaning in one pass: keeps lines of `text` (split on newline) with at " +
        "least minWords whitespace-separated words, ending in terminal punctuation " +
        "(. ! ? \") when requirePunct, and containing none of the constant marker " +
        "substrings (case-insensitive). Returns STRUCT<text (kept lines re-joined), " +
        "n_lines, n_kept>.",
      (3 to 19),
      Seq("text" -> "a STRING column",
        "minWords" -> "constant minimum words per kept line",
        "requirePunct" -> "constant boolean: require terminal punctuation",
        "m1..mN" -> "constant drop-marker substrings (each a string literal)"),
      Seq("SELECT _FUNC_('good line here\\nno', 2, false).n_kept" -> "1"),
      "string_funcs") { args =>
      FilterLines(args(0),
        intLiteral("graft_filter_lines", "minWords", args(1)),
        boolLiteral("graft_filter_lines", "requirePunct", args(2)),
        args.drop(3).zipWithIndex.map { case (e, i) =>
          stringLiteral("graft_filter_lines", s"m${i + 1}", e)
        })
    },
    fd("graft_repetition_stats",
      "_FUNC_(text) - Returns the Gopher-style repetition counts of a document in one " +
        "tokenize pass, as array<long>: [n_words, n_distinct_words, n_2grams, " +
        "top_2gram_count, n_3grams, n_distinct_3grams]. Grams compare by chained " +
        "xxhash64 (the standard 2^-64 collision model).",
      Seq(1),
      Seq("text" -> "a STRING column"),
      Seq("SELECT _FUNC_('a b a b')" -> "[4,2,3,2,2,2]"),
      "string_funcs") { args =>
      RepetitionStats(args(0))
    },
    fd("graft_hashed_bow_score",
      "_FUNC_(text, weights) - Returns the linear hashed-bag-of-words score of a " +
        "document: each whitespace token of lower(trim(text)) hashes to slot " +
        "md5_32(token) mod size(weights) (first 4 md5 bytes, big-endian unsigned) and " +
        "contributes its slot's weight; the result is the sum over tokens in document " +
        "order. The fastText-style linear classifier inference step with the trained " +
        "weight vector frozen into the plan.",
      Seq(2),
      Seq("text" -> "a STRING column",
        "weights" -> "constant non-empty array<double> of slot weights (the model)"),
      Seq("SELECT _FUNC_('a a b', array(1.0d, -1.0d)) != 0.0" -> "true"),
      "string_funcs") { args =>
      HashedBowScore(args(0),
        doubleArrayLiteral("graft_hashed_bow_score", "weights", args(1)))
    },
    fd("graft_value_bucket",
      "_FUNC_(v, bounds) - Returns the number of elements of the sorted constant " +
        "`bounds` array that are <= v, by binary search — the range-partition " +
        "bucket of v given split points from approx_partition_bounds. O(log n) " +
        "per row where the equivalent CASE-WHEN comparison chain is O(n) and " +
        "breaks codegen at a few hundred split points.",
      Seq(2),
      Seq("v" -> "a numeric column (cast to DOUBLE)",
        "bounds" -> "constant non-empty sorted array<double> of split points"),
      Seq("SELECT _FUNC_(2.5d, array(1.0d, 2.0d, 3.0d))" -> "2",
        "SELECT _FUNC_(0.5d, array(1.0d, 2.0d, 3.0d))" -> "0"),
      "math_funcs") { args =>
      ValueBucket(args(0),
        doubleArrayLiteral("graft_value_bucket", "bounds", args(1)))
    },
    fd("graft_bucket_index",
      "_FUNC_(bounds, v) - Returns the number of elements of the sorted `bounds` " +
        "array that are <= v, by binary search — the range-partition bucket of v " +
        "for split points computed AT RUNTIME (the one-row result of " +
        "approx_partition_bounds broadcast back over the table). Any orderable " +
        "element type; graft_value_bucket is the constant-bounds variant.",
      Seq(2),
      Seq("bounds" -> "a sorted array<T> column with no null elements",
        "v" -> "a column of the array's element type"),
      Seq("SELECT _FUNC_(array(1.0d, 2.0d, 3.0d), 2.5d)" -> "2",
        "SELECT _FUNC_(array('b', 'd'), 'a')" -> "0"),
      "math_funcs") { args =>
      BucketIndex(args(0), args(1))
    },
    fd("graft_int8_quantize",
      "_FUNC_(v) - Returns the symmetric int8 quantization of an array<double> vector " +
        "as integer-valued doubles: scale = max(abs(x))/127, components rounded half " +
        "away from zero; the all-zero vector quantizes to all zeros. One primitive pass.",
      Seq(1),
      Seq("v" -> "an ARRAY<DOUBLE> column"),
      Seq("SELECT _FUNC_(array(0.5d, -1.0d))" -> "[64.0,-127.0]"),
      "math_funcs") { args =>
      Int8Quantize(args(0))
    },
    fd("graft_lsh_buckets",
      "_FUNC_(v, dim, bits, tables, seed) - Returns the random-hyperplane LSH bucket ids " +
        "(array<long> of `tables` entries, disjoint id ranges per table) of an " +
        "array<double> vector: per table, the sign pattern of `bits` Gaussian projections " +
        "packed as (table << bits) | signBits. One fused loop over all planes.",
      Seq(5),
      Seq("v" -> "an ARRAY<DOUBLE> column",
        "dim" -> "constant vector dimension",
        "bits" -> "constant hyperplanes (bucket bits) per table, in [1, 56]",
        "tables" -> "constant number of hash tables",
        "seed" -> "constant plane-matrix seed"),
      Seq("SELECT size(_FUNC_(array(1d, 2d), 2, 12, 8, 42))" -> "8"),
      "hash_funcs") { args =>
      LshBuckets(args(0),
        intLiteral("graft_lsh_buckets", "dim", args(1)),
        intLiteral("graft_lsh_buckets", "bits", args(2)),
        intLiteral("graft_lsh_buckets", "tables", args(3)),
        longLiteral("graft_lsh_buckets", "seed", args(4)))
    },
    fd("graft_nearest_cells",
      "_FUNC_(v, cents, nprobe) - Returns the `nprobe` nearest cell ids (array<long>) " +
        "for an array<double> vector over a packed centroid array " +
        "(array<struct<cell: long, centroid: array<double>>>), ordered by cosine " +
        "descending with ties broken on cell ascending. One primitive pass computes " +
        "each centroid's score exactly once.",
      Seq(3),
      Seq("v" -> "an ARRAY<DOUBLE> column",
        "cents" -> "an ARRAY<STRUCT<cell: BIGINT, centroid: ARRAY<DOUBLE>>> column",
        "nprobe" -> "constant positive probe count"),
      Seq(("SELECT _FUNC_(array(1d, 0d), array(named_struct('cell', 1L, 'centroid', " +
        "array(1d, 0d)), named_struct('cell', 2L, 'centroid', array(0d, 1d))), 1)") -> "[1]"),
      "array_funcs") { args =>
      NearestCells(args(0), args(1), intLiteral("graft_nearest_cells", "nprobe", args(2)))
    },
    fd("graft_minhash",
      "_FUNC_(shingles, numHashes) - Returns the MinHash signature (array<long> of " +
        "`numHashes` minima) of an array<string> shingle set; one double-hash pass per " +
        "shingle (Kirsch-Mitzenmacher family).",
      Seq(2),
      Seq("shingles" -> "an ARRAY<STRING> column (e.g. word n-grams)",
        "numHashes" -> "constant positive signature length"),
      Seq("SELECT size(_FUNC_(array('a', 'b'), 64))" -> "64"),
      "hash_funcs") { args =>
      MinHashSignature(args(0), intLiteral("graft_minhash", "numHashes", args(1)))
    },
    fd("graft_word_shingles",
      "_FUNC_(text, n) - Returns the DISTINCT 64-bit hashes (array<long>) of the word " +
        "n-gram shingles of `text` (trimmed, lower-cased, whitespace-split) without " +
        "materializing gram strings; texts shorter than n words produce the single " +
        "whole-text shingle hash.",
      Seq(2),
      Seq("text" -> "a STRING column",
        "n" -> "constant positive shingle width in words"),
      Seq("SELECT size(_FUNC_('a b c d', 3))" -> "2"),
      "hash_funcs") { args =>
      WordShingleHashes(args(0), intLiteral("graft_word_shingles", "n", args(1)))
    },
    fd("graft_word_shingle_seq",
      "_FUNC_(text, n) - Returns the word n-gram hash SEQUENCE of `text` " +
        "(array<long>, one element per n-gram start position, duplicates kept) " +
        "with graft_word_shingles' tokenizer and hashing; texts shorter than n " +
        "words produce the single whole-text hash. Positional, for repeated-span " +
        "mining; use graft_word_shingles for set similarity.",
      Seq(2),
      Seq("text" -> "a STRING column",
        "n" -> "constant positive shingle width in words"),
      Seq("SELECT size(_FUNC_('a b a b a', 2))" -> "4"),
      "hash_funcs") { args =>
      WordShingleSeq(args(0), intLiteral("graft_word_shingle_seq", "n", args(1)))
    },
    fd("graft_drop_words",
      "_FUNC_(text, positions) - Removes the words of `text` (lower/trim/" +
        "whitespace-split tokenization) whose 0-based positions appear in the " +
        "sorted-ascending `positions` array, re-joining survivors with single " +
        "spaces. Returns STRUCT<text, n_words, n_dropped>; out-of-range " +
        "positions are ignored. The cut step of span-level dedup.",
      Seq(2),
      Seq("text" -> "a STRING column",
        "positions" -> "a sorted array<int> column of 0-based word positions"),
      Seq("SELECT _FUNC_('a b c d', array(1, 3)).text" -> "a c"),
      "string_funcs") { args =>
      DropWords(args(0), args(1))
    },
    fd("graft_winnow",
      "_FUNC_(text, k, w) - Returns winnowing document fingerprints (array<long>): " +
        "Karp-Rabin rolling hashes of the character k-grams of the normalized text, " +
        "minimum per sliding window of w, deduplicated. Any shared substring of " +
        "length >= k+w-1 between two documents yields a shared fingerprint.",
      Seq(3),
      Seq("text" -> "a STRING column (lower-cased, whitespace-normalized internally)",
        "k" -> "constant positive character-gram length",
        "w" -> "constant positive window length in grams"),
      Seq("SELECT size(_FUNC_('abc', 8, 4))" -> "1"),
      "hash_funcs") { args =>
      WinnowFingerprints(args(0),
        intLiteral("graft_winnow", "k", args(1)),
        intLiteral("graft_winnow", "w", args(2)))
    },

    fd("graft_sparse_dot",
      "_FUNC_(keys_a, vals_a, keys_b, vals_b) - Dot product of two sparse " +
        "integer-weighted vectors given as aligned (sorted-key, value) long-array " +
        "pairs: a sorted-merge pass sums vals_a*vals_b over matching keys, exact in " +
        "LONG arithmetic. Keys must be sorted ascending and unique per vector.",
      Seq(4),
      Seq("keys_a" -> "sorted ARRAY<LONG> of the left vector's keys",
        "vals_a" -> "ARRAY<LONG> of the left vector's values, aligned with keys_a",
        "keys_b" -> "sorted ARRAY<LONG> of the right vector's keys",
        "vals_b" -> "ARRAY<LONG> of the right vector's values, aligned with keys_b"),
      Seq(("SELECT _FUNC_(array(1L, 3L), array(2L, 5L), " +
        "array(3L, 4L), array(7L, 9L))") -> "35"),
      "misc_funcs") { args =>
      SparseDot(args(0), args(1), args(2), args(3))
    },

    fd("graft_sorted_intersect",
      "_FUNC_(a, b) - Intersection of two SORTED unique ARRAY<LONG> values by one " +
        "allocation-free merge pass (only the result allocates) — the per-edge " +
        "adjacency-intersection primitive of the triangle census. Behavior on " +
        "unsorted input is undefined.",
      Seq(2),
      Seq("a" -> "sorted duplicate-free ARRAY<LONG>",
        "b" -> "sorted duplicate-free ARRAY<LONG>"),
      Seq("SELECT _FUNC_(array(1L, 3L, 5L), array(3L, 4L, 5L))" -> "[3,5]"),
      "misc_funcs") { args =>
      SortedIntersect(args(0), args(1))
    },

    // --- matrix / spectral aggregates ---------------------------------
    fd("vec_gram_agg",
      "_FUNC_(vec) - Aggregates ARRAY<DOUBLE> vectors into the exact Gram matrix " +
        "sum(v * v') as a row-major ARRAY<DOUBLE> of length d*d — the covariance/PCA " +
        "input computed in one distributed pass; partial Grams merge by elementwise " +
        "addition (map-side combine). NULL for an empty group.",
      Seq(1),
      Seq("vec" -> "an ARRAY<DOUBLE> (or castable) embedding column of uniform dimension"),
      Seq("SELECT _FUNC_(v) FROM VALUES (array(1.0d, 0.0d)) AS tab(v)" ->
        "[1.0,0.0,0.0,0.0]"),
      "agg_funcs") { args =>
      SketchOneShot(args, GramFamily, "vec_gram_agg")
    },
    fd("fd_accumulate",
      "_FUNC_(vec[, ell]) - Aggregates ARRAY<DOUBLE> vectors into a serialized " +
        "Frequent-Directions matrix sketch (BINARY): ell rows approximating the " +
        "stream's Gram with spectral error at most ||A||_F^2/ell using O(ell*d) state " +
        "instead of the exact aggregate's O(d^2). Mergeable with fd_combine. " +
        "Without ell, `spark.sql.dataSketches.fd.ell` applies (default 16), frozen " +
        "into the plan at driver-side creation like every other sketch parameter.",
      Seq(1, 2),
      Seq("vec" -> "an ARRAY<DOUBLE> (or castable) embedding column of uniform dimension",
        "ell" -> ("constant sketch size (rows retained), >= 2; " +
          "defaults to spark.sql.dataSketches.fd.ell")),
      Seq(("SELECT fd_error_bound(_FUNC_(v, 8)) FROM " +
        "VALUES (array(1.0d, 0.0d)) AS tab(v)") -> "0.125"),
      "agg_funcs") { args =>
      val (ellArg, ell) =
        if (args.length == 1) (Literal(GraftConf.fdEll), GraftConf.fdEll)
        else (args(1), FdFamily.resolveEll(args(1)))
      SketchAccumulate(Seq(args(0), ellArg), FdFamily(ell), "fd_accumulate")
    },
    fd("fd_combine",
      "_FUNC_(sketch) - Merges serialized Frequent-Directions sketches into one " +
        "(BINARY); FD merge is associative with the same spectral guarantee, so " +
        "per-group sketches roll up to any coarser grouping.",
      Seq(1),
      Seq(sketchArg),
      Seq(("SELECT fd_error_bound(_FUNC_(s)) FROM (SELECT fd_accumulate(v, 8) s " +
        "FROM VALUES (array(1.0d, 0.0d)) tab(v) GROUP BY v)") -> "0.125"),
      "agg_funcs") { args =>
      SketchCombine(args(0), FdFamily(GraftConf.fdEll), "fd_combine")
    },
    fd("fd_gram_estimate",
      "_FUNC_(sketch) - The approximate Gram matrix B'B stored in a serialized " +
        "Frequent-Directions sketch, as a row-major ARRAY<DOUBLE> of length d*d; " +
        "every entry is within fd_error_bound(sketch) of the exact Gram. NULL on " +
        "corrupt bytes.",
      Seq(1),
      Seq(sketchArg),
      Seq(("SELECT _FUNC_(fd_accumulate(v, 8))[0] FROM " +
        "VALUES (array(1.0d, 0.0d)) AS tab(v)") -> "1.0"),
      "misc_funcs") { args =>
      FdGramEstimate(args(0))
    },
    fd("fd_singular_values",
      "_FUNC_(sketch) - The squared singular values (descending, ell entries, " +
        "zero-padded) of the rows of a serialized Frequent-Directions sketch — " +
        "approximate principal-component energies of the ingested vectors. NULL on " +
        "corrupt bytes.",
      Seq(1),
      Seq(sketchArg),
      Seq(("SELECT _FUNC_(fd_accumulate(v, 2))[0] FROM " +
        "VALUES (array(2.0d, 0.0d)) AS tab(v)") -> "4.0"),
      "misc_funcs") { args =>
      FdSingularValues(args(0))
    },
    fd("fd_error_bound",
      "_FUNC_(sketch) - The proven additive error cap ||A||_F^2 / ell of a serialized " +
        "Frequent-Directions sketch: no Gram entry or Rayleigh quotient deviates from " +
        "the exact stream Gram by more. NULL on corrupt bytes.",
      Seq(1),
      Seq(sketchArg),
      Seq(("SELECT _FUNC_(fd_accumulate(v, 8)) FROM " +
        "VALUES (array(1.0d, 0.0d)) AS tab(v)") -> "0.125"),
      "misc_funcs") { args =>
      FdErrorBound(args(0))
    }
  )

  /** Require a foldable boolean literal argument. */
  private def boolLiteral(fn: String, param: String, e: Expression): Boolean = e match {
    case Literal(v: Boolean, org.apache.spark.sql.types.BooleanType) => v
    case _ => throw new IllegalArgumentException(
      s"Function $fn requires $param to be a constant boolean literal, got ${e.sql}")
  }

  /** Require a foldable string literal argument. */
  private def stringLiteral(fn: String, param: String, e: Expression): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String,
        org.apache.spark.sql.types.StringType) => v.toString
    case _ => throw new IllegalArgumentException(
      s"Function $fn requires $param to be a constant string literal, got ${e.sql}")
  }

  /** Parse the optional (maxItems, fpp) tail of the bloom functions,
   *  validated and frozen into the plan driver-side. */
  private def bloomParams(fn: String, args: Seq[Expression]): (Long, Double) = {
    val m = if (args.length > 1) longLiteral(fn, "maxItems", args(1))
            else BloomParams.DefaultMaxItems
    val f = if (args.length > 2) doubleLiteral(fn, "fpp", args(2))
            else BloomParams.DefaultFpp
    BloomParams.validate(fn, m, f)
    (m, f)
  }

  /** Require a foldable double (or int) literal argument. */
  private def doubleLiteral(fn: String, param: String, e: Expression): Double = e match {
    case Literal(v: Double, org.apache.spark.sql.types.DoubleType) => v
    case Literal(v: java.math.BigDecimal, _: org.apache.spark.sql.types.DecimalType) =>
      v.doubleValue()
    case Literal(v: org.apache.spark.sql.types.Decimal, _: org.apache.spark.sql.types.DecimalType) =>
      v.toDouble
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v.toDouble
    case _ => throw new IllegalArgumentException(
      s"Function $fn requires $param to be a constant numeric literal, got ${e.sql}")
  }

  /** Require a foldable array-of-integers literal argument. */
  private def intArrayLiteral(fn: String, param: String, e: Expression): Seq[Int] = {
    val bad = () => throw new IllegalArgumentException(
      s"Function $fn requires $param to be a constant integer-array literal, got ${e.sql}")
    if (!e.foldable) bad()
    e.dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, _) =>
        val arr = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        if (arr == null || arr.numElements() == 0) bad()
        (0 until arr.numElements()).map { i =>
          if (arr.isNullAt(i)) bad().asInstanceOf[Int] else arr.getInt(i)
        }
      case _ => bad().asInstanceOf[Seq[Int]]
    }
  }

  /** Require a foldable array-of-doubles literal argument (integer
   *  elements accepted and widened, matching [[doubleLiteral]]). */
  private def doubleArrayLiteral(fn: String, param: String, e: Expression): Seq[Double] = {
    val bad = () => throw new IllegalArgumentException(
      s"Function $fn requires $param to be a constant non-empty numeric-array " +
        s"literal, got ${e.sql}")
    if (!e.foldable) bad()
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}
    val getter: (org.apache.spark.sql.catalyst.util.ArrayData, Int) => Double =
      e.dataType match {
        case ArrayType(DoubleType, _) => (a, i) => a.getDouble(i)
        case ArrayType(IntegerType, _) => (a, i) => a.getInt(i).toDouble
        case ArrayType(LongType, _) => (a, i) => a.getLong(i).toDouble
        case _ => bad().asInstanceOf[Nothing]
      }
    val arr = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (arr == null || arr.numElements() == 0) bad()
    (0 until arr.numElements()).map { i =>
      if (arr.isNullAt(i)) bad().asInstanceOf[Double] else getter(arr, i)
    }
  }

  /** Require a foldable integer literal argument (mirrors the quantile
   *  functions' constant-literal validation). */
  private def intLiteral(fn: String, param: String, e: Expression): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"Function $fn requires $param to be a constant integer literal, got ${e.sql}")
  }

  /** Require a foldable integer-or-long literal argument. */
  private def longLiteral(fn: String, param: String, e: Expression): Long = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v.toLong
    case Literal(v: Long, org.apache.spark.sql.types.LongType) => v
    case _ => throw new IllegalArgumentException(
      s"Function $fn requires $param to be a constant integer literal, got ${e.sql}")
  }

  /** Imperatively register all functions into a live session's registry. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    expressions.foreach { case (ident, info, builder) =>
      registry.registerFunction(ident, info, builder)
    }
  }
}
