package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/**
 * Source/sink coverage mirroring the reference README's usage: CSV in
 * (header + custom separator), sketch summary tables out/in through
 * parquet and CSV round trips.
 */
class SourcesSuite extends AnyFunSuite with GraftSparkSession {

  test("csv source with header/sep options feeds sketch aggregates") {
    withTempDir("graft_csv") { dir =>
      val csv = s"$dir/values.csv"
      Files.writeString(java.nio.file.Paths.get(csv),
        "id;v\n1;0\n2;1\n3;2\n4;10\n")
      val df = spark.read.format("csv")
        .option("header", "true").option("sep", ";").option("inferSchema", "true")
        .load(csv)
      df.createOrReplaceTempView("csv_values")
      val r = spark.sql(
        "SELECT approx_percentile_ex(v, 0.5), approx_count_distinct_ex(CAST(id AS BIGINT)) " +
          "FROM csv_values").collect()
      assert(r.toSeq === Seq(Row(2, 4L)))
    }
  }

  test("summary tables survive a csv round trip (base64 sketch state)") {
    withTempDir("graft_csv_rt") { dir =>
      // CSV cannot carry raw binary; base64 it like a real export would
      spark.sql(
        """SELECT base64(approx_count_distinct_accumulate(c)) AS s64
          |FROM VALUES ('a'), ('b'), ('c') AS t(c)""".stripMargin)
        .write.mode("overwrite").option("header", "true").csv(dir)
      val back = spark.read.option("header", "true").csv(dir)
        .selectExpr("approx_count_distinct_estimate(unbase64(s64)) AS nd").collect()
      assert(back.toSeq === Seq(Row(3L)))
    }
  }

  test("json lines source feeds sketch aggregates and pipeline text ops") {
    withTempDir("graft_json") { dir =>
      val json = s"$dir/docs.json"
      Files.writeString(java.nio.file.Paths.get(json),
        """{"id": 1, "text": "the quick brown fox", "score": 4.5}
          |{"id": 2, "text": "the lazy dog", "score": 1.5}
          |{"id": 3, "text": "the quick blue fox", "score": 4.5}
          |""".stripMargin)
      val df = spark.read.json(json)
      df.createOrReplaceTempView("json_docs")
      val r = spark.sql(
        "SELECT approx_count_distinct_ex(score), " +
          "element_at(graft_marker_hits(text, 'the'), 1) AS hits " +
          "FROM json_docs GROUP BY text ORDER BY min(id)").collect()
      assert(r.map(_.getLong(1)).toSeq === Seq(1L, 1L, 1L))
      assert(r.map(_.getLong(0)).toSeq === Seq(1L, 1L, 1L))
    }
  }

  test("orc sink/source carries raw binary sketch state natively") {
    withTempDir("graft_orc_rt") { dir =>
      spark.sql(
        """SELECT k, approx_percentile_accumulate(v) AS s
          |FROM VALUES ('a', 1), ('a', 2), ('a', 10), ('b', 5) AS t(k, v)
          |GROUP BY k""".stripMargin)
        .write.mode("overwrite").orc(dir)
      val back = spark.read.orc(dir)
        .selectExpr("approx_percentile_estimate(approx_percentile_combine(s), 0.5) AS p50")
        .collect()
      // {1,2,5,10} merged across groups; EXCLUSIVE p50 over n=4 = element
      // floor(0.5*4)+1 = the 3rd in sort order
      assert(back.toSeq === Seq(Row(5.0)))
    }
  }

  test("json source feeds operators; sketch state via base64") {
    withTempDir("graft_json") { dir =>
      Files.writeString(java.nio.file.Paths.get(s"$dir/docs.json"),
        """{"doc_id": 1, "text": "alpha beta gamma"}
          |{"doc_id": 2, "text": "alpha beta gamma"}
          |{"doc_id": 3, "text": "entirely different content"}
          |""".stripMargin)
      val docs = spark.read.json(s"$dir/docs.json")
      val dedup = graft.operators.Dedup.exactDedup(docs, "doc_id", "text")
      assert(dedup.count() === 2)
      // JSON export of sketch state, base64 like CSV
      withTempDir("graft_json_rt") { out =>
        docs.selectExpr("base64(approx_freqitems_accumulate(text)) AS s64")
          .write.mode("overwrite").json(out)
        val items = spark.read.json(out)
          .selectExpr("inline(approx_freqitems_estimate(unbase64(s64)))")
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        assert(items("alpha beta gamma") === 2L)
      }
    }
  }

  test("tar shards: roundtrip, byte-identical rewrites, external tar reads them") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (0L until 20L).map(i => (i, s"payload for doc $i " + ("x" * i.toInt)))
      .toDF("id", "text")
    withTempDir("graft_tar") { dir =>
      val manifest = graft.sources.TarShards.write(df, "id", "text", dir, numShards = 3)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      assert(manifest.map(_._2).sum === 20L)
      // roundtrip: every entry comes back with identical bytes
      val back = graft.sources.TarShards.read(spark, dir)
        .select(col("name"), col("content").cast("string").as("text"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(back.size === 20)
      (0L until 20L).foreach { i =>
        assert(back(s"$i.txt") === s"payload for doc $i " + ("x" * i.toInt))
      }
      // determinism: a second write produces byte-identical shard files
      withTempDir("graft_tar2") { dir2 =>
        graft.sources.TarShards.write(df.repartition(7), "id", "text", dir2, numShards = 3)
        (0 until 3).foreach { s =>
          val a = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/shard-$s.tar"))
          val b = Files.readAllBytes(java.nio.file.Paths.get(s"$dir2/shard-$s.tar"))
          assert(java.util.Arrays.equals(a, b), s"shard $s differs between runs")
        }
        // the files are REAL ustar: system tar must list every entry
        val listed = scala.sys.process.Process(
          Seq("tar", "tf", s"$dir/shard-0.tar")).!!.trim.split("\n").toSet
        val expected = graft.sources.TarShards.read(spark, dir)
          .where(col("shard") === 0).select("name")
          .collect().map(_.getString(0)).toSet
        assert(listed === expected)
        // an export with no shard files reads back empty, not PATH_NOT_FOUND
        withTempDir("graft_tar_empty") { empty =>
          assert(graft.sources.TarShards.read(spark, empty).count() === 0L)
        }
      }
    }
  }
}
