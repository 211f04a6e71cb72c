package graft

import org.apache.spark.sql.functions._
import graft.queries.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("every registered query returns rows on sf0.001") {
    // run every query, then fail once naming each failure — a failure
    // must not hide the ones registered after it
    val failures = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      scala.util.Try(fn(spark, sfDir).count()) match {
        case scala.util.Success(n) if n > 0 => None
        case scala.util.Success(_) => Some(s"$name returned 0 rows")
        case scala.util.Failure(e) => Some(s"$name failed: $e")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries failed:\n${failures.mkString("\n")}")
  }

  test("every query has an oracle or a documented omission") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // documented rows-only ops (engine-specific hashes / mapPartitions
    // kernels — see SparkEntry.oracleSql scaladoc); each has its own spec
    val allowed = Set("q19_simhash", "q22_lsh_buckets", "q23_ivf_ann",
      "q25_multimodal_features", "q37_sketches", "q38_embed_neardup",
      "q39_etl_parity")
    assert((missing -- allowed).isEmpty, s"queries without oracle: $missing")
  }

  test("§2 parity queries stay registered with oracles — no silent drop") {
    // SURVEY §2 rows whose ONLY driver-table oracle evidence is one
    // query key: A7→q11, C1→q28, A1/J2/W1→q29, A3→q10, M-family→q12,
    // J3→q30 (the r12 events breakage silently removed three of these
    // from CORRECTNESS; this pins the mapping so a dropped key fails
    // CI naming the parity row, not a downstream diff)
    val parity = Map(
      "q10_daily_totals" -> "A3 sum by 2 keys",
      "q11_null_profile" -> "A7 null-profile aggregates",
      "q12_gauss_missing" -> "M1-M5 First100Set",
      "q28_coerce_clean" -> "C1 numeric coerce + half-even round",
      "q29_group_first_fill" -> "A1/J2/W1 group-first fill",
      "q30_fk_check" -> "J3 FK integrity")
    parity.foreach { case (key, row) =>
      assert(SparkEntry.queries.contains(key),
        s"§2 row '$row' lost its query entry $key")
      assert(SparkEntry.oracleSql.contains(key),
        s"§2 row '$row' lost its oracle entry $key")
    }
  }

  test("snapshotDiff kernel: all four classes classify; unchanged is dropped") {
    val oldSnap = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, Some(30.0)),
      (5L, None), (6L, None), (7L, None))
      .toDF("k", "old_v")
    val newSnap = Seq((2L, Some(20.0)), (3L, Some(31.0)), (4L, Some(40.0)),
      (6L, Some(60.0)), (7L, None))
      .toDF("k", "new_v")
    val got = Relational.snapshotDiff(oldSnap, newSnap, "k", "old_v", "new_v")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(got == Map(
      1L -> (("removed", Some(10.0), None)),
      3L -> (("changed", Some(30.0), Some(31.0))),
      4L -> (("added", None, Some(40.0))),
      // presence is keyed on the SIDE, not value nullity: a NULL-valued
      // key that disappears is removed (not "added"), a NULL→value
      // transition is changed, and NULL→NULL on a surviving key is
      // unchanged (key 7 absent)
      5L -> (("removed", None, None)),
      6L -> (("changed", None, Some(60.0)))), s"wrong changeset: $got")
  }

  test("q87: the changeset is exactly the constructed added/removed/changed keys") {
    val keys = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val expected = keys.flatMap { k =>
      val inOld = k % 97 != 3
      val inNew = k % 97 != 51
      if (!inOld && inNew) Some(k -> "added")
      else if (inOld && !inNew) Some(k -> "removed")
      else if (inOld && inNew && k % 13 == 0) Some(k -> "changed")
      else None // ×2 of a positive price always differs; %13!=0 never does
    }.toMap
    val got = Relational.q87SnapshotDiff(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expected)
    // changed rows carry exactly the doubled price
    Relational.q87SnapshotDiff(spark, sfDir)
      .filter($"diff_class" === "changed").collect().foreach { r =>
        assert(r.getDouble(3) == 2.0 * r.getDouble(2))
      }
  }

  test("q1 groups by (returnflag, linestatus) with positive sums") {
    val rows = Relational.q1Agg(spark, sfDir).collect()
    assert(rows.length >= 4)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Double]("sum_disc_price") <= r.getAs[Double]("sum_base_price"))
    }
  }

  test("q4 topk is sorted descending and bounded at 10") {
    val rev = Relational.q4TopK(spark, sfDir).collect().map(_.getAs[Double]("revenue"))
    assert(rev.length == 10)
    assert(rev.sameElements(rev.sorted.reverse))
  }

  test("q5 rank never exceeds 3 and starts at 1 per customer") {
    val df = Relational.q5WindowRank(spark, sfDir)
    assert(df.agg(max($"rn")).head.getInt(0) <= 3)
    val firsts = df.groupBy($"o_custkey").agg(min($"rn").as("m"))
      .filter($"m" =!= 1).count()
    assert(firsts == 0)
  }

  test("q8 partitions customers exactly") {
    val total = Tables(spark, sfDir, "customer").count()
    val agg = Relational.q8SemiAnti(spark, sfDir)
      .agg(sum($"with_orders" + $"without_orders")).head.getLong(0)
    assert(agg == total)
  }

  test("q12 gauss recovers the extracted number") {
    assert(Relational.q12GaussMissing(spark, sfDir).head.getLong(0) == 57L)
  }
}
