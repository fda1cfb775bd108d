package graft.snap

import java.nio.charset.StandardCharsets
import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal Iceberg-style snapshot/manifest layer (SURVEY.md J9, §7.3):
  * every stage commits an immutable parquet file set plus a JSON
  * manifest carrying per-file row counts, wall time, and the LINEAGE of
  * input stage keys; commits are atomic (write tmp → rename). A killed
  * job re-run resumes from the last committed stage — `stage` returns
  * the stored data without recompute when a manifest for the same
  * (name, inputs) key already exists.
  *
  * Mirrors the reference's snapshot-consistent export semantics
  * (pg_export_snapshot + pg_dump --snapshot, /root/reference/src/db/
  * pg.rs:166-206): a manifest version IS the consistent snapshot.
  * Deliberately minimal: no schema evolution, no deletes (§7.4.5).
  */
object Snapshot {

  final case class StageResult(
      key: String, path: String, rows: Long, files: Int,
      wallMs: Long, resumed: Boolean, lineage: Seq[String])

  private def fs(spark: SparkSession, p: String): FileSystem =
    FileSystem.get(new Path(p).toUri, spark.sparkContext.hadoopConfiguration)

  /** Deterministic stage key from name + input lineage. */
  def stageKey(name: String, inputs: Seq[String]): String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest((name +: inputs).mkString("\u0000").getBytes(StandardCharsets.UTF_8))
    // path-sanitize the name (the key becomes a directory name); the
    // hash is over the RAW name, so distinct names stay distinct keys
    val safe = name.map(c =>
      if (c.isLetterOrDigit || c == '-' || c == '_' || c == '.') c else '_')
    safe + "-" + h.take(8).map("%02x".format(_)).mkString
  }

  private def manifestPath(root: String, key: String) =
    new Path(s"$root/_manifests/$key.json")

  /** Run (or resume) one stage. `compute` is only invoked when no
    * committed manifest exists for this (name, inputs) key. */
  def stage(spark: SparkSession, root: String, name: String,
      inputs: Seq[String])(compute: => DataFrame): (DataFrame, StageResult) = {
    val key = stageKey(name, inputs)
    val f = fs(spark, root)
    val mp = manifestPath(root, key)
    val dataPath = s"$root/$key"
    if (f.exists(mp)) {
      // real JSON parse (Jackson ships with Spark) — the round-1 regex
      // scrape broke the day a stage name or metric key held a quote
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readAll(f, mp))
      val rows = if (m.has("totalRows")) m.get("totalRows").asLong(-1L) else -1L
      val files = if (m.has("files")) m.get("files").size() else 0
      // the manifest is self-describing: reuse its recorded schema so
      // the resume read skips the footer-sampling schema-inference job
      val reader = if (m.has("schema"))
        spark.read.schema(org.apache.spark.sql.types.DataType
          .fromJson(m.get("schema").toString)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      else spark.read
      (reader.parquet(dataPath),
        StageResult(key, dataPath, rows, files, 0L, resumed = true, inputs))
    } else {
      val t0 = System.nanoTime()
      val df = compute // bind once: `compute` is by-name
      val tmp = s"$root/_tmp-$key-${System.nanoTime()}"
      // A11/J9: executor metrics for this stage land in the manifest
      val (_, metrics) = graft.util.Obs.span(spark, s"snapshot stage $name") {
        df.write.mode("overwrite").parquet(tmp)
      }
      // per-partition metrics from parquet footers (no extra job)
      val parts = f.listStatus(new Path(tmp)).map(_.getPath)
        .filter(p => p.getName.startsWith("part-")).sortBy(_.getName)
      val counts = footerRowCounts(parts, spark.sparkContext.hadoopConfiguration)
      if (f.exists(new Path(dataPath))) f.delete(new Path(dataPath), true)
      require(f.rename(new Path(tmp), new Path(dataPath)), s"rename failed: $tmp")
      val wallMs = (System.nanoTime() - t0) / 1000000
      val total = counts.map(_._2).sum
      // emit via a real JSON writer (escaping-safe for any stage name /
      // metric key) and RECORD THE SCHEMA — a manifest version is a
      // consistent snapshot, so it must be self-describing
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val man = mapper.createObjectNode()
      man.put("stage", name).put("key", key)
        .put("committedAt", System.currentTimeMillis())
      val lin = man.putArray("lineage")
      inputs.foreach(lin.add)
      man.put("wallMs", wallMs).put("totalRows", total)
      val met = man.putObject("metrics")
      metrics.totals.foreach { case (k, v) => met.put(k, v) }
      val fl = man.putArray("files")
      counts.foreach { case (p, n) =>
        fl.addObject().put("path", p).put("rows", n) }
      man.set[com.fasterxml.jackson.databind.JsonNode]("schema",
        mapper.readTree(df.schema.json))
      val json = mapper.writeValueAsString(man) + "\n"
      val tmpM = new Path(s"$root/_manifests/.tmp-$key-${System.nanoTime()}")
      f.mkdirs(new Path(s"$root/_manifests"))
      val out = f.create(tmpM, true)
      out.write(json.getBytes(StandardCharsets.UTF_8)); out.close()
      require(f.rename(tmpM, mp), s"manifest commit failed: $mp")
      // schema is known from the frame just written — skip inference
      (spark.read.schema(df.schema).parquet(dataPath),
        StageResult(key, dataPath, total, counts.length, wallMs, resumed = false, inputs))
    }
  }

  /** Threads reading footers for one stage commit. */
  private val FooterReadThreads = 8

  /** (file name, row count) of each parquet part, from its footer.
    * Footer opens are independent ~5-20 ms IO round trips, so a
    * many-file stage reads them concurrently (measured: the 5-stage
    * corpus chain pays this per stage) on a pool this call owns and
    * shuts down, never the JVM-wide common pool. Each read gets its own
    * copy of `hconf`: a Hadoop Configuration is not safe to share
    * across threads. A failed read names its part file. */
  private[snap] def footerRowCounts(parts: Array[Path],
      hconf: Configuration): Array[(String, Long)] = {
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(FooterReadThreads, parts.length)))
    try {
      val reads = parts.map { p =>
        pool.submit(new Callable[(String, Long)] {
          def call(): (String, Long) = {
            val r = ParquetFileReader.open(
              HadoopInputFile.fromPath(p, new Configuration(hconf)))
            try p.getName -> r.getRecordCount finally r.close()
          }
        })
      }
      parts.zip(reads).map { case (p, read) =>
        try read.get() catch {
          case e: ExecutionException =>
            throw new java.io.IOException(s"parquet footer read failed: $p", e.getCause)
        }
      }
    } finally pool.shutdownNow()
  }

  /** Remove superseded stage versions: for each stage NAME keep the
    * newest `keep` manifests (by commit time), then close the retained
    * set over manifest lineage — a key referenced (transitively) by any
    * retained manifest survives even if its own stage name has newer
    * versions, so every retained stage can still resume AND re-derive.
    * Returns the dropped keys. Lineage entries that are not manifest
    * keys (free-form provenance like `pbf:<path>`) are ignored. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 1): Seq[String] = {
    require(keep >= 1, "keep must be >= 1")
    val f = fs(spark, root)
    val manDir = new Path(s"$root/_manifests")
    if (!f.exists(manDir)) return Nil
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    final case class Man(key: String, stage: String, at: Long,
        lineage: Seq[String], path: Path)
    val mans = f.listStatus(manDir).map(_.getPath)
      .filter(_.getName.endsWith(".json"))
      .map { p =>
        val m = mapper.readTree(readAll(f, p))
        val lin = if (m.has("lineage"))
          (0 until m.get("lineage").size()).map(m.get("lineage").get(_).asText())
        else Seq.empty[String]
        Man(m.get("key").asText(), m.get("stage").asText(),
          m.get("committedAt").asLong(), lin, p)
      }.toSeq
    val byKey = mans.map(m => m.key -> m).toMap
    var retained = mans.groupBy(_.stage).values
      .flatMap(_.sortBy(m => (-m.at, m.key)).take(keep)).map(_.key).toSet
    var frontier = retained
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(k => byKey.get(k).toSeq.flatMap(_.lineage))
        .filter(byKey.contains) -- retained
      retained ++= next
      frontier = next
    }
    val dropped = mans.filterNot(m => retained(m.key)).sortBy(_.key)
    // manifest FIRST, data second: a crash mid-vacuum then leaves at
    // worst orphaned data with no manifest, which the next stage() call
    // under that key overwrites on recompute — the reverse order would
    // leave a manifest pointing at deleted data, and resume would fail
    for (m <- dropped) {
      f.delete(m.path, false)
      f.delete(new Path(s"$root/${m.key}"), true)
    }
    dropped.map(_.key)
  }

  private def readAll(f: FileSystem, p: Path): Array[Byte] = {
    val in = f.open(p)
    try {
      val len = f.getFileStatus(p).getLen.toInt
      val b = new Array[Byte](len)
      in.readFully(0, b)
      b
    } finally in.close()
  }
}
