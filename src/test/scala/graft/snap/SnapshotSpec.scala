package graft.snap

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.jobs.Pipeline

/** J9 obligations: committed stages never recompute; a kill between
  * stages resumes exactly; manifests carry lineage + per-file metrics. */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val fixture = "/root/reference/tests/fixtures/niue-230612.osm.pbf"
  private val root = "/tmp/graft-test-snap"

  private def rmRoot(): Unit = {
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm)
      p.delete()
    }
    rm(new java.io.File(root))
  }

  test("fresh run computes all stages; rerun resumes all with identical outputs") {
    rmRoot()
    val r1 = Pipeline.run(spark, fixture, 2000, root)
    assert(r1.stages.values.forall(!_.resumed))
    assert(r1.stages("tiles").rows > 0)
    val r2 = Pipeline.run(spark, fixture, 2000, root)
    assert(r2.stages.values.forall(_.resumed), "second run must resume everything")
    for ((k, s1) <- r1.stages) {
      assert(r2.stages(k).key == s1.key)
      assert(r2.stages(k).rows == s1.rows)
    }
  }

  test("kill between stages: later stages recompute, earlier resume") {
    // simulate a kill after 'cover' by deleting the join+tiles manifests
    val manifests = Paths.get(root, "_manifests")
    Files.list(manifests).forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("join-") || n.startsWith("tiles-")) Files.delete(p)
    }
    val r3 = Pipeline.run(spark, fixture, 2000, root)
    assert(r3.stages("admin_areas").resumed)
    assert(r3.stages("cover").resumed)
    assert(!r3.stages("join").resumed)
    assert(!r3.stages("tiles").resumed)
    assert(r3.stages("tiles").rows > 0)
  }

  test("a stage name containing quotes round-trips (manifest is real JSON, key path-safe)") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap-quote").toString
    val name = """stage "with" quotes/and slash"""
    val (_, s1) = Snapshot.stage(spark, dir, name, Seq("in1")) {
      spark.range(10).select(col("id"), lit("x\"y").as("s"))
    }
    assert(!s1.resumed && s1.rows == 10)
    val (df2, s2) = Snapshot.stage(spark, dir, name, Seq("in1")) {
      fail("must resume, not recompute"): org.apache.spark.sql.DataFrame
    }
    assert(s2.resumed && s2.rows == 10 && s2.files == s1.files)
    assert(df2.count() == 10)
    // manifest parses as real JSON and records the schema
    val mf = Paths.get(dir, "_manifests", s1.key + ".json")
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(mf))
    assert(tree.get("stage").asText == name)
    assert(tree.get("totalRows").asLong == 10)
    assert(tree.get("schema").get("fields").size() == 2)
    // the stage write's span totals (A11): Spark's write tracker counts
    // the rows it wrote
    val metrics = tree.get("metrics")
    assert(metrics.get("jobs").asLong >= 1 && metrics.get("tasks").asLong >= 1)
    assert(metrics.get("recordsWritten").asLong == 10)
  }

  test("footer row counts cover every part; an unreadable part fails naming its file") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft-snap-footer")
    spark.range(100).repartition(3).write.parquet(dir.resolve("ok").toString)
    val parts = Files.list(dir.resolve("ok")).iterator()
    var ok = Seq.empty[Path]
    while (parts.hasNext) {
      val p = parts.next()
      if (p.getFileName.toString.startsWith("part-")) ok :+= new Path(p.toString)
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    val counts = Snapshot.footerRowCounts(ok.toArray, hconf)
    assert(counts.map(_._1).toSeq == ok.map(_.getName))
    assert(counts.map(_._2).sum == 100)
    val bad = dir.resolve("part-99999.parquet")
    Files.write(bad, "not parquet".getBytes)
    val e = intercept[java.io.IOException](
      Snapshot.footerRowCounts((ok :+ new Path(bad.toString)).toArray, hconf))
    assert(e.getMessage.contains("part-99999.parquet"), e.getMessage)
  }

  test("vacuum drops superseded versions, keeps lineage-referenced keys, resume still works") {
    val dir = Files.createTempDirectory("graft-snap-vac").toString
    // chain: base(v1) -> derived(base1); then base re-staged with new
    // inputs (v2) WITHOUT re-deriving — derived still references
    // base(v1) in its lineage
    val (_, base1) = Snapshot.stage(spark, dir, "base", Seq("in:v1")) {
      spark.range(5).toDF()
    }
    val (_, der1) = Snapshot.stage(spark, dir, "derived", Seq(base1.key)) {
      spark.range(3).toDF()
    }
    Thread.sleep(5) // committedAt orders v1 < v2
    val (_, base2) = Snapshot.stage(spark, dir, "base", Seq("in:v2")) {
      spark.range(7).toDF()
    }
    // keep=1: base keeps only v2 BY NAME, but v1 must survive — the
    // retained derived manifest references it in its lineage
    assert(Snapshot.vacuum(spark, dir, keep = 1).isEmpty)
    assert(Files.exists(Paths.get(dir, base1.key)),
      "lineage-referenced old version must survive")
    // once a NEWER derived supersedes der1, nothing references base1:
    // both drop together
    Thread.sleep(5)
    val (_, der2) = Snapshot.stage(spark, dir, "derived", Seq(base2.key)) {
      spark.range(4).toDF()
    }
    val dropped = Snapshot.vacuum(spark, dir, keep = 1)
    assert(dropped.toSet == Set(der1.key, base1.key), s"dropped=$dropped")
    assert(!Files.exists(Paths.get(dir, der1.key)))
    assert(!Files.exists(Paths.get(dir, "_manifests", der1.key + ".json")))
    assert(!Files.exists(Paths.get(dir, base1.key)))
    // retained stages resume without recompute from the kept versions
    val (_, base2b) = Snapshot.stage(spark, dir, "base", Seq("in:v2")) {
      fail("must resume"): org.apache.spark.sql.DataFrame
    }
    assert(base2b.resumed && base2b.rows == 7)
    val (_, der2b) = Snapshot.stage(spark, dir, "derived", Seq(base2.key)) {
      fail("must resume"): org.apache.spark.sql.DataFrame
    }
    assert(der2b.resumed && der2b.rows == 4)
    // a vacuumed key is not poisoned: re-staging it recomputes cleanly
    val (_, base1b) = Snapshot.stage(spark, dir, "base", Seq("in:v1")) {
      spark.range(5).toDF()
    }
    assert(!base1b.resumed && base1b.rows == 5 && base1b.key == base1.key)
  }

  test("different inputs get a different snapshot key (lineage-addressed)") {
    val r4 = Pipeline.run(spark, fixture, 3000, root)
    val r2 = Pipeline.run(spark, fixture, 2000, root)
    assert(r4.stages("join").key != r2.stages("join").key)
    assert(r4.stages("admin_areas").key == r2.stages("admin_areas").key)
    // manifest JSON carries lineage + per-file rows
    val mf = Files.list(Paths.get(root, "_manifests")).iterator()
    var sawLineage = false
    while (mf.hasNext) {
      val s = new String(Files.readAllBytes(mf.next()))
      if (s.contains("\"lineage\":[\"admin_areas-")) sawLineage = true
    }
    assert(sawLineage)
  }
}
