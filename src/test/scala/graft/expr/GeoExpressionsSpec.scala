package graft.expr

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.geo.{Cells, Geom, Tiling}
import graft.expr.{GeoFunctions => G}

class GeoExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randRows(n: Int): Seq[(Long, Long)] = {
    val r = new scala.util.Random(42)
    (0 until n).map(_ =>
      (r.nextLong(1800000001L) - 900000000L, r.nextLong(3600000001L) - 1800000000L))
  }

  test("cell_encode / cell_ancestor / tile_zxy match the Scala kernels (codegen path)") {
    val rows = randRows(2000)
    val df = rows.toDF("lat7", "lon7")
      .withColumn("cell", G.cell_encode($"lat7", $"lon7", lit(14)))
      .withColumn("anc", G.cell_ancestor($"cell", lit(6)))
      .withColumn("tile", G.tile_zxy($"lat7", $"lon7", lit(12)))
    val got = df.collect()
    for (row <- got) {
      val (lat, lon) = (row.getLong(0), row.getLong(1))
      assert(row.getLong(2) == Cells.encode(lat, lon, 14))
      assert(row.getLong(3) == Cells.ancestor(Cells.encode(lat, lon, 14), 6))
      assert(row.getLong(4) == Tiling.tile(lat, lon, 12))
    }
  }

  test("expressions also work via SQL registration and interpreted eval") {
    G.register(spark)
    randRows(100).toDF("lat7", "lon7").createOrReplaceTempView("pts")
    // wholestage off → interpreted/non-fused path must agree
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val a = spark.sql(
      "SELECT cell_encode(lat7, lon7, 10) c, tile_zxy(lat7, lon7, 8) t FROM pts ORDER BY c, t")
      .collect().toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    val b = spark.sql(
      "SELECT cell_encode(lat7, lon7, 10) c, tile_zxy(lat7, lon7, 8) t FROM pts ORDER BY c, t")
      .collect().toSeq
    assert(a == b)
  }

  test("point_in_rings agrees with Geom.pointInRings through a DataFrame") {
    val shell = Array[Long](0, 0, 10000, 0, 10000, 10000, 0, 10000)
    val hole = Array[Long](4000, 4000, 6000, 4000, 6000, 6000, 4000, 6000)
    val r = new scala.util.Random(7)
    val pts = (0 until 500).map(_ => (r.nextLong(12000L) - 1000L, r.nextLong(12000L) - 1000L))
    val df = pts.toDF("x", "y")
      .withColumn("rings", typedLit(Seq(shell.toSeq, hole.toSeq)))
      .withColumn("in", G.point_in_rings($"x", $"y", $"rings"))
    for (row <- df.collect()) {
      val expect = Geom.pointInRings(row.getLong(0), row.getLong(1), Array(shell, hole))
      assert(row.getBoolean(3) == expect, s"p=(${row.getLong(0)},${row.getLong(1)})")
    }
  }

  test("geoparse extracts planted coordinates exactly; text is untouched") {
    val cases = Seq(
      ("the point -19.0512345, -169.92 is in Niue", Some((-190512345L, -1699200000L))),
      ("lat=-19.05 lon=-169.9254321 ok", Some((-190500000L, -1699254321L))),
      ("coords 45.5;122.75 end", Some((455000000L, 1227500000L))),
      ("no coordinates here at all", None),
      ("year 2024, month 12 but 12.5, 99.25 works", Some((125000000L, 992500000L))),
      ("out of range 95.5, 200.9 then 10.1, 20.2", Some((101000000L, 202000000L))),
      ("extra precision -19.123456789, 169.987654321", Some((-191234567L, 1699876543L))))
    val df = cases.map(_._1).toDF("text")
      .withColumn("p", G.geoparse_packed($"text"))
      .withColumn("lat7", G.packed_lat7($"p"))
      .withColumn("lon7", G.packed_lon7($"p"))
    val got = df.collect()
    for ((row, (textIn, expect)) <- got.zip(cases)) {
      assert(row.getString(0) == textIn, "text must pass through byte-identical")
      expect match {
        case None => assert(row.isNullAt(1), s"expected no coord in: $textIn")
        case Some((la, lo)) =>
          assert(!row.isNullAt(1), s"expected coord in: $textIn")
          assert(row.getLong(2) == la, s"lat in: $textIn")
          assert(row.getLong(3) == lo, s"lon in: $textIn")
      }
    }
  }

  test("cell_ring explodes to join-ready candidates") {
    val df = Seq((0L, 0L)).toDF("lat7", "lon7")
      .withColumn("cell", G.cell_encode($"lat7", $"lon7", lit(10)))
      .select(explode(G.cell_ring($"cell", lit(1))).as("c"))
    assert(df.count() == 8)
  }
}
