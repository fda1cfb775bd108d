package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.geo.CentreTree
import graft.jobs.SpatialJoin

/** The index kNN kernel ([[RT.knnTree]] over a [[CentreTree]]) against
  * the brute-force dense kernel [[RT.knnTop]]: ScalaCheck properties run
  * through `Test.check` (no scalatest bridge on the classpath). */
class KnnTreeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def check(prop: Prop, tests: Int): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(tests).withInitialSeed(20261017L), prop)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  private val lat = Gen.choose(-900000000L, 900000000L)
  private val lon = Gen.choose(-1800000000L, 1800000000L)

  /** Coordinates mixing the shapes a tree search can get wrong: global
    * spread, clusters straddling ±180°, clusters at either pole, the
    * domain's exact edges, and a coarse lattice where many (point,
    * centre) pairs tie exactly on d2. */
  private val coord: Gen[(Long, Long)] = Gen.frequency(
    3 -> Gen.zip(lat, lon),
    3 -> Gen.zip(Gen.choose(-50000000L, 50000000L),
      Gen.oneOf(Gen.choose(1780000000L, 1800000000L),
        Gen.choose(-1800000000L, -1780000000L))),
    2 -> Gen.zip(Gen.oneOf(Gen.choose(880000000L, 900000000L),
      Gen.choose(-900000000L, -880000000L)), lon),
    1 -> Gen.oneOf((900000000L, 1800000000L), (-900000000L, -1800000000L),
      (0L, 1800000000L), (0L, -1800000000L), (900000000L, 0L)),
    3 -> Gen.zip(Gen.choose(-3L, 3L).map(_ * 10000000L),
      Gen.choose(-3L, 3L).map(_ * 10000000L)))

  /** (rel, lat7, lon7) rows; rels come from a small range so equal-d2
    * candidates also collide on nearby ids. */
  private def centres(coords: Gen[(Long, Long)]): Gen[Seq[(Long, Long, Long)]] =
    for {
      n <- Gen.frequency(1 -> Gen.choose(1, 40), 3 -> Gen.choose(1025, 2500))
      cs <- Gen.listOfN(n, Gen.zip(Gen.choose(1L, 5000L), coords))
    } yield cs.map { case (r, (la, lo)) => (r, la, lo) }

  /** One url's points: 1–4 of them, with a repeated point half the time
    * (knnTop counts a duplicated point's pairs twice). */
  private def urlPoints(coords: Gen[(Long, Long)]): Gen[Seq[(Long, Long)]] =
    for {
      ps <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, coords))
      dup <- Gen.oneOf(true, false)
    } yield if (dup) ps :+ ps.head else ps

  private def arrayData(ps: Seq[(Long, Long)]): ArrayData =
    new GenericArrayData(ps.map { case (la, lo) =>
      new GenericInternalRow(Array[Any](la, lo)): InternalRow
    }.toArray[Any])

  private def longs(a: ArrayData): Seq[Long] = (0 until a.numElements()).map(a.getLong)

  private def agrees(coords: Gen[(Long, Long)]): Prop =
    Prop.forAll(centres(coords), Gen.listOfN(40, urlPoints(coords))) { (cents, urls) =>
      val tree = CentreTree.build(cents)
      val (rels, lats, lons) =
        (cents.map(_._1).toArray, cents.map(_._2).toArray, cents.map(_._3).toArray)
      urls.forall { ps =>
        val pts = arrayData(ps)
        Seq(1, 3).forall(k =>
          longs(RT.knnTree(pts, tree, k)) == longs(RT.knnTop(pts, rels, lats, lons, k)))
      }
    }

  test("index kernel equals knnTop brute force at k = 1 and k = 3") {
    check(agrees(coord), tests = 150)
  }

  test("coordinates outside the domain search the whole tree and still agree") {
    val wild = Gen.frequency(4 -> coord,
      1 -> Gen.zip(Gen.choose(-2000000000L, 2000000000L),
        Gen.choose(-4000000000L, 4000000000L)))
    check(agrees(wild), tests = 60)
  }

  test("ties on d2 rank by relation id, including across the antimeridian") {
    // four centres at the same distance from (0, 180°): two just east
    // of the antimeridian, two just west; the lowest ids win
    val cents = Seq((40L, 0L, 1799000000L), (30L, 0L, -1799000000L),
      (20L, 1000000L, 1800000000L), (10L, -1000000L, -1800000000L))
    val tree = CentreTree.build(cents ++ (1 to 2000).map(i =>
      (1000L + i, (i % 90) * 10000000L, (i % 360) * 1000000L)))
    val pts = arrayData(Seq((0L, 1800000000L)))
    assert(longs(RT.knnTree(pts, tree, 3)) == Seq(10L, 20L, 30L))
    assert(longs(RT.knnTree(arrayData(Seq((0L, -1800000000L))), tree, 1)) == Seq(10L))
  }

  test("an empty centre side: no kNN rows, and knnCentresK still requires k ≤ nCentres") {
    assert(longs(RT.knnTree(arrayData(Seq((0L, 0L))), CentreTree.build(Nil), 3)).isEmpty)
    import spark.implicits._
    val pts = Seq(("a", 0L, 0L), ("b", 10L, 20L)).toDF("url", "lat7", "lon7")
    val none = Seq.empty[(Long, Long, Long)].toDF("relation_id", "c_lat7", "c_lon7")
    // the default bound takes the dense kernel; -1 forces the tree kernel
    for (p <- Seq(SpatialJoin.Params(), SpatialJoin.Params(knnDenseMaxCentres = -1L))) {
      assert(SpatialJoin.knnCentres(spark, pts, none, p).collect().isEmpty)
      intercept[IllegalArgumentException](SpatialJoin.knnCentresK(spark, pts, none, p, 1))
    }
  }

  test("knn_tree codegen matches interpreted eval and brute force") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val cents = (1 to 3000).map(i =>
      (i.toLong, r.nextLong(1800000001L) - 900000000L, r.nextLong(3600000001L) - 1800000000L))
    val centres = cents.toDF("relation_id", "c_lat7", "c_lon7")
    val pts = (1 to 300).map(i =>
      (s"u${i % 250}", r.nextLong(1800000001L) - 900000000L,
        r.nextLong(3600000001L) - 1800000000L)).toDF("url", "lat7", "lon7")
    val idx = SpatialJoin.CentreIndex.of(centres)
    def run(): Set[(String, Int, Long)] =
      SpatialJoin.knnCentresK(spark, pts, idx, SpatialJoin.Params(), 3)
        .collect().map(x => (x.getString(0), x.getInt(1), x.getLong(2))).toSet
    val (interp, fused) = try {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val i = run()
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      (i, run())
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
    assert(interp == fused)
    val (rels, lats, lons) =
      (cents.map(_._1).toArray, cents.map(_._2).toArray, cents.map(_._3).toArray)
    val brute = pts.as[(String, Long, Long)].collect().groupBy(_._1).flatMap {
      case (u, ps) => longs(RT.knnTop(arrayData(ps.map(p => (p._2, p._3)).toSeq),
        rels, lats, lons, 3)).zipWithIndex.map { case (rel, i) => (u, i + 1, rel) }
    }.toSet
    assert(fused == brute && brute.size == 3 * 250)
  }
}
