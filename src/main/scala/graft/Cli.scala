package graft

import org.apache.spark.sql.SparkSession

import graft.jobs.{AdminAreas, SpatialJoin}
import graft.norm.Normalize
import graft.pbf.{PbfRead, PbfWrite}
import graft.synth.Pages

/** CLI mirroring the reference's executable surface
  * (/root/reference/src/bin/osm/main.rs: `osm import`, `osm export`)
  * plus the target-engine pipelines:
  *
  *   graft.Cli import <in.osm.pbf> <tablesDir>   pbf → 10 apidb parquet tables
  *   graft.Cli export <tablesDir> <out.osm.pbf>  tables → Type_then_ID pbf
  *     (a DIRECTORY of frame-concatenable parts by default; pass
  *     --single-file for one concatenated .osm.pbf)
  *     [--bounding-box=l,b,r,t | --calc-bounding-box] [--source=S]
  *     [--osmosis-replication-timestamp=N]
  *     [--osmosis-replication-sequence-number=N]
  *     [--osmosis-replication-base-url=U] [--single-file]
  *   graft.Cli import-pgdump <copyDir> <tablesDir>  pg_dump COPY text → tables
  *   graft.Cli export-pgdump <tablesDir> <copyDir>  tables → COPY text dump
  *   graft.Cli apply-osc <in.osm.pbf> <oscDir> <out.osm.pbf>
  *     apply replication diffs (.osc/.osc.gz) to a snapshot: highest
  *     version per (kind,id) wins, deletes drop out; the output is a
  *     new snapshot (directory form; --single-file supported)
  *   graft.Cli admin <in.osm.pbf> <outDir>       admin multipolygons + covers
  *   graft.Cli update-admin <in.osm.pbf> <oscDir> <prevAdminDir> <outDir>
  *     incremental admin maintenance: apply replication diffs and
  *     rebuild ONLY the touched relations' areas + cover rows, carrying
  *     the rest over from <prevAdminDir> unchanged
  *   graft.Cli extract <in.osm.pbf> <bbox|relation_id> <out.osm.pbf>
  *     referentially-complete regional extract: nodes in region (bbox
  *     'l,b,r,t' in degrees, or an admin relation's multipolygon
  *     assembled from the input) + complete ways + clipped relations,
  *     Type_then_ID output (directory form; --single-file supported)
  *   graft.Cli join <in.osm.pbf> <nPages> <outDir>  spatial join + knn + tiles
  *   graft.Cli vacuum <snapshotRoot> [--keep=N]  drop superseded stage
  *     versions (default keep=1 newest per stage; lineage-referenced
  *     versions always survive)
  */
object Cli {

  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Split trailing `--key=value` / `--flag` options from positionals. */
  private def splitOpts(args: List[String]): (List[String], Map[String, String]) = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    (pos, flags.map { f =>
      f.drop(2).split("=", 2) match {
        case Array(k, v) => k -> v
        case Array(k) => k -> "true"
      }
    }.toMap)
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    val (_, metrics) = graft.util.Obs.span(spark, s"graft ${args.mkString(" ")}") {
      val (positional, opts) = splitOpts(args.toList)
      positional match {
        case "import" :: in :: out :: Nil =>
          val entities = PbfRead.read(spark, in)
          val db = Normalize.demux(entities)
          for ((name, df) <- db.tables)
            df.write.mode("overwrite").parquet(s"$out/$name")
          // dump metadata — the analog of the reference's dump
          // (transaction id, timestamp) used to default replication
          // params on export (G5, /root/reference/src/lib.rs:222-253)
          val maxChangeset = db.changesets.agg(
            org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.max("changeset_id"),
              org.apache.spark.sql.functions.lit(0L))).head().getLong(0)
          java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "_dump_meta.json"),
            s"""{"importedAtMs":${System.currentTimeMillis()},"maxChangeset":$maxChangeset}""")
          println(s"[graft] imported $in -> $out (10 tables)")
        case "export" :: in :: out :: Nil =>
          val db = Normalize.ApiDb.readParquet(spark, in)
          // G5: default replication params from the import-time dump meta
          val meta = {
            val p = java.nio.file.Paths.get(in, "_dump_meta.json")
            if (java.nio.file.Files.exists(p)) {
              val s = java.nio.file.Files.readString(p)
              def l(k: String) = s"""\"$k\":(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
              (l("importedAtMs"), l("maxChangeset"))
            } else (None, None)
          }
          val (repTs, repSeq) = PbfWrite.selectReplicationParams(
            opts.get("osmosis-replication-timestamp").map(_.toLong),
            opts.get("osmosis-replication-sequence-number").map(_.toLong),
            meta._1.getOrElse(System.currentTimeMillis()),
            meta._2.getOrElse(0L))
          val info = PbfWrite.PbfInfo(
            bbox7 = opts.get("bounding-box").map(PbfWrite.parseBoundingBox),
            calcBBox = opts.contains("calc-bounding-box"),
            source = Some(opts.getOrElse("source", "from-apidb-dump")),
            replicationTimestamp = Some(repTs),
            replicationSequence = Some(repSeq),
            replicationBaseUrl = opts.get("osmosis-replication-base-url"))
          PbfWrite.write(spark, Normalize.reassemble(spark, db), out, info = info,
            singleFile = opts.contains("single-file"))
          println(s"[graft] exported $in -> $out")
        case "import-pgdump" :: in :: out :: Nil =>
          // apidb COPY-text dump dir (pg_dump of the reference's
          // Postgres) → canonical parquet tables. --users-layout=
          // full (default) | minimal | name:type,name:type,...
          val usersLayout = opts.getOrElse("users-layout", "full") match {
            case "full" => graft.norm.PgCopy.usersFullLayout
            case "minimal" => graft.norm.PgCopy.usersMinimalLayout
            case custom => custom.split(",").toSeq.map(_.split(":") match {
              case Array(n, t) => n -> t
              case Array(n) => n -> "string"
            })
          }
          val db = graft.norm.PgCopy.readApiDb(spark, in, usersLayout)
          for ((name, df) <- db.tables)
            df.write.mode("overwrite").parquet(s"$out/$name")
          println(s"[graft] imported COPY dump $in -> $out (10 tables)")
        case "export-pgdump" :: in :: out :: Nil =>
          graft.norm.PgCopy.writeApiDb(Normalize.ApiDb.readParquet(spark, in), out)
          println(s"[graft] exported COPY dump $in -> $out")
        case "apply-osc" :: in :: oscDir :: out :: Nil =>
          val updated = graft.streaming.Replication.applyDiffs(spark,
            PbfRead.read(spark, in), graft.streaming.OscRead.read(spark, oscDir))
          // replication state must survive the apply or the output
          // cannot drive the NEXT incremental apply: flags win, else
          // the input snapshot's header values carry forward (the .osc
          // payload itself carries no sequence — advancing it is the
          // caller's job via --osmosis-replication-sequence-number,
          // exactly as with `export`)
          val inHdr = PbfRead.readHeader(spark, in)
          PbfWrite.write(spark, updated, out,
            info = PbfWrite.PbfInfo(calcBBox = true,
              source = Some("apply-osc"),
              replicationTimestamp =
                opts.get("osmosis-replication-timestamp").map(_.toLong)
                  .orElse(inHdr.replicationTimestamp),
              replicationSequence =
                opts.get("osmosis-replication-sequence-number").map(_.toLong)
                  .orElse(inHdr.replicationSequence),
              replicationBaseUrl =
                opts.get("osmosis-replication-base-url")
                  .orElse(inHdr.replicationBaseUrl)),
            singleFile = opts.contains("single-file"))
          println(s"[graft] applied $oscDir to $in -> $out")
        case "admin" :: in :: out :: Nil =>
          val areas = AdminAreas.build(spark, PbfRead.read(spark, in)).cache()
          areas.toDF().write.mode("overwrite").parquet(s"$out/admin_areas")
          // detailed form: what the containment join consumes AND what
          // update-admin merges incrementally
          AdminAreas.coverTableDetailed(spark, areas, 17).toDF()
            .write.mode("overwrite").parquet(s"$out/cover")
          println(s"[graft] ${areas.count()} admin areas -> $out")
        case "update-admin" :: in :: oscDir :: prevAdminDir :: out :: Nil =>
          import spark.implicits._
          val snap = PbfRead.read(spark, in)
          val prevAreas = spark.read.parquet(s"$prevAdminDir/admin_areas")
            .as[AdminAreas.AdminArea]
          val prevCover = spark.read.parquet(s"$prevAdminDir/cover")
            .as[AdminAreas.CoverRowEx]
          val diffs = graft.streaming.OscRead.read(spark, oscDir)
          val r = AdminAreas.incrementalUpdate(spark, snap, prevAreas, diffs)
          r.areas.toDF().write.mode("overwrite").parquet(s"$out/admin_areas")
          AdminAreas.incrementalCover(spark, prevCover, r.rebuilt, r.touched, 17)
            .toDF().write.mode("overwrite").parquet(s"$out/cover")
          println(s"[graft] incrementally rebuilt ${r.touched.count()} " +
            s"touched relation(s) -> $out")
        case "vacuum" :: root :: Nil =>
          val keep = opts.get("keep").map(_.toInt).getOrElse(1)
          val dropped = graft.snap.Snapshot.vacuum(spark, root, keep)
          println(s"[graft] vacuum $root (keep=$keep): dropped " +
            s"${dropped.length} superseded stage version(s)" +
            (if (dropped.isEmpty) "" else dropped.mkString(": ", ", ", "")))
        case "extract" :: in :: region :: out :: Nil =>
          val osm = PbfRead.read(spark, in)
          val sub =
            if (region.contains(",")) {
              val (l, r, t, b) = PbfWrite.parseBoundingBox(region)
              graft.jobs.Extract.bbox(spark, osm, l, b, r, t)
            } else graft.jobs.Extract.byRelation(spark, osm, region.toLong)
          PbfWrite.write(spark, sub, out,
            info = PbfWrite.PbfInfo(calcBBox = true,
              source = Some(s"extract:$region")),
            singleFile = opts.contains("single-file"))
          println(s"[graft] extracted $in ($region) -> $out")
        case "join" :: in :: n :: out :: Nil =>
          val areas = AdminAreas.build(spark, PbfRead.read(spark, in))
          val o = SpatialJoin.run(spark, Pages.generate(spark, n.toLong), areas)
          o.joined.write.mode("overwrite").parquet(s"$out/joined")
          o.knn.write.mode("overwrite").parquet(s"$out/knn")
          o.tileCounts.write.mode("overwrite").parquet(s"$out/tiles")
          println(s"[graft] join outputs -> $out")
        case other =>
          System.err.println(
            "usage: import|export|import-pgdump|export-pgdump|apply-osc|" +
              s"admin|update-admin|extract|join|vacuum ... (see graft.Cli scaladoc; got: $other)")
          sys.exit(2)
      }
    }
    println(s"[graft] metrics: ${metrics.totals.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    spark.stop()
  }
}
