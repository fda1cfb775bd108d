package graft.norm

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expr.PgTextRT
import graft.pbf.PbfRead

/** apidb COPY-text interop (SURVEY A5/A6 as surveyed): escaping codec,
  * pg_dump-shaped content, and the full fixture chain through a COPY
  * dump directory. */
class PgCopySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fixture = "/root/reference/tests/fixtures/niue-230612.osm.pbf"

  test("COPY text escaping round-trips hostile strings") {
    val hostile = Seq(
      (1L, 1L, "tab\there", "line\nbreak"),
      (2L, 1L, "back\\slash", "\\N literal text"),
      (3L, 1L, "bell\b", "feed\f ret\r vt\u000B"),
      (4L, 1L, "unicode ü€😀", ""),
      (5L, 1L, "ends with backslash \\", "\tstarts with tab"))
    val df = hostile.toDF("node_id", "version", "k", "v")
    val dir = "/tmp/graft-test-pgcopy-esc"
    PgCopy.writeTable(df, dir, "node_tags")
    val back = PgCopy.readTable(spark, dir, "node_tags")
      .as[(Long, Long, String, String)].collect().sortBy(_._1)
    assert(back.toSeq == hostile)
  }

  test("pg_dump-shaped COPY content parses: \\N nulls, escapes, terminator") {
    // timestamps cover every fraction length pg_dump emits — it TRIMS
    // trailing zeros, so .12 / .1234 / .12345 are all real-world rows
    val content =
      "101\t-190512345\t-1699254321\t99\tt\t2023-06-12 20:21:53.123456\t123456\t2\n" +
      "102\t0\t0\t\\N\tf\t2023-06-12 20:21:53\t\\N\t1\n" +
      "103\t1\t1\t\\N\tt\t2023-06-12 20:21:53.12\t\\N\t1\n" +
      "104\t1\t1\t\\N\tt\t2023-06-12 20:21:53.1234\t\\N\t1\n" +
      "105\t1\t1\t\\N\tt\t2023-06-12 20:21:53.12345\t\\N\t1\n" +
      "\\.\n"
    val p = "/tmp/graft-test-pgcopy-raw.dat"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p), content)
    val rows = PgCopy.readTable(spark, p, "nodes").orderBy("node_id").collect()
    assert(rows.length == 5)
    assert(rows(0).getLong(0) == 101L && rows(0).getInt(1) == -190512345)
    assert(rows(0).getBoolean(4) && !rows(1).getBoolean(4))
    assert(rows(0).getLong(5) == 1686601313123L) // UTC millis incl fraction
    assert(rows(1).getLong(5) == 1686601313000L) // fraction-less timestamp
    assert(rows(2).getLong(5) == 1686601313120L) // 2-digit fraction
    assert(rows(3).getLong(5) == 1686601313123L) // 4-digit fraction
    assert(rows(4).getLong(5) == 1686601313123L) // 5-digit fraction
    assert(rows(1).isNullAt(3) && rows(1).isNullAt(6)) // \N → null
  }

  test("a real-shaped FULL users.dat ingests with the DEFAULT layout") {
    // one row per the public openstreetmap-website users table, all 29
    // columns in physical COPY order — must need no layout override
    val fields = Seq(
      "carol@example.org", "56", "secrethash", "2019-03-04 05:06:07.89",
      "carol", "t", "mapper since 2019", "12.5", "-33.25", "3",
      "\\N", "t", "\\N", "127.0.0.1", "en", "active", "\\N", "f",
      "\\N", "\\N", "t", "markdown", "7", "0", "0", "f", "\\N", "123",
      "\\N")
    assert(fields.length == PgCopy.usersFullLayout.length)
    val p = "/tmp/graft-test-pgcopy-users-full.dat"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      fields.mkString("\t") + "\n\\.\n")
    val row = PgCopy.readTable(spark, p, "users")
      .select("id", "display_name", "home_lat", "changesets_count").head()
    assert(row.getLong(0) == 56L && row.getString(1) == "carol")
    assert(row.getDouble(2) == 12.5 && row.getInt(3) == 7)
  }

  test("octal and hex escapes decode per the COPY spec") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(PgTextRT.pgUnescape(u("a\\101b")).toString == "aAb")   // octal 101 = 'A'
    assert(PgTextRT.pgUnescape(u("a\\x41b")).toString == "aAb")   // hex 41 = 'A'
    assert(PgTextRT.pgUnescape(u("a\\7b")).toString == "a\u0007b") // 1-digit octal
    assert(PgTextRT.pgUnescape(u("\\q")).toString == "q")          // \c → c
    assert(PgTextRT.pgUnescape(u("\\N")) == null)                  // NULL marker
    assert(PgTextRT.pgUnescape(u("x\\N")).toString == "xN")        // only bare \N is null    // octal/hex escapes are BYTES: a UTF-8 char may arrive byte-wise
    assert(PgTextRT.pgUnescape(u("caf\\303\\251")).toString == "caf\u00e9")
    assert(PgTextRT.pgUnescape(u("caf\\xC3\\xA9")).toString == "caf\u00e9")
  }

  test("users layout override reads a real-shaped users.dat (extra auth columns)") {
    val content = "12\talice@example.org\tsecret\t2020-01-01 00:00:00\talice\tt\n" +
      "34\tbob@example.org\t\\N\t2021-02-02 00:00:00\tbob\tf\n\\.\n"
    val p = "/tmp/graft-test-pgcopy-users.dat"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p), content)
    val layout = Seq("id" -> "bigint", "email" -> "string",
      "pass_crypt" -> "string", "creation_time" -> "ts",
      "display_name" -> "string", "data_public" -> "boolean")
    val rows = PgCopy.readTable(spark, p, layout)
      .select("id", "display_name").orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((12L, "alice"), (34L, "bob")))
  }

  test("a users layout mismatch fails loudly (no silent NULL uids)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pgcopy-mismatch").toString
    for (t <- Seq("nodes", "node_tags", "ways", "way_tags", "way_nodes",
        "relations", "relation_tags", "relation_members", "changesets"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, t), "\\.\n")
    // a ONE-column users.dat read with the default 29-col layout: the
    // id position resolves past the row's end → NULL id → raise_error
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "users"),
      "42\n\\.\n")
    val e = intercept[Exception] {
      PgCopy.readApiDb(spark, dir).users.collect()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(chain.contains("layout mismatch"), s"got: $chain")
  }

  test("usersFullLayout matches the vendored openstreetmap-website structure.sql") {
    // the fixture is the upstream public DDL (see its header); pg_dump
    // COPY emits columns in this physical order, so both the NAME ORDER
    // and the type mapping of our default layout are pinned against it
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/openstreetmap-structure-users.sql"), "UTF-8")
    val ddl = try src.mkString finally src.close()
    val body = ddl.substring(ddl.indexOf('('), ddl.lastIndexOf(')'))
    val colLine = """^\s*(\w+)\s+([a-z_. ]+?)(?:\s+DEFAULT .*)?(?:\s+NOT NULL)?,?\s*$""".r
    val cols = body.linesIterator.collect {
      case colLine(name, pgType) => name -> pgType.trim
    }.toSeq
    assert(cols.length == 29, s"fixture parse found ${cols.length} columns")
    def category(pgType: String): String = pgType match {
      case "bigint" => "bigint"
      case "integer" | "smallint" => "int"
      case "boolean" => "boolean"
      case "double precision" => "double"
      case "timestamp without time zone" => "ts"
      case "character varying" | "text" => "string"
      case t if t.endsWith("_enum") => "string" // enums ride as text in COPY
      case t => fail(s"unmapped pg type $t")
    }
    assert(PgCopy.usersFullLayout == cols.map { case (n, t) => n -> category(t) },
      "usersFullLayout must match the upstream physical column order + types")
  }

  test("quadTile matches the public openstreetmap algorithm") {
    def ref(lat: Double, lon: Double): Long = {
      var x = Math.round((lon + 180) * 65535 / 360)
      var y = Math.round((lat + 90) * 65535 / 180)
      var t = 0L
      for (_ <- 0 until 16) {
        t = (t << 1) | (if ((x & 0x8000) != 0) 1 else 0)
        x <<= 1
        t = (t << 1) | (if ((y & 0x8000) != 0) 1 else 0)
        y <<= 1
      }
      t
    }
    val pts = Seq((-190512345L, -1699254321L), (0L, 0L),
      (899999999L, 1799999999L), (-900000000L, -1800000000L), (455000000L, 1227500000L))
    val got = pts.toDF("lat7", "lon7")
      .select(PgCopy.quadTile(org.apache.spark.sql.functions.col("lat7"),
        org.apache.spark.sql.functions.col("lon7")).as("t"))
      .collect().map(_.getLong(0))
    for (((lat7, lon7), t) <- pts.zip(got))
      assert(t == ref(lat7 / 1e7, lon7 / 1e7), s"($lat7,$lon7)")
  }

  test("full interop chain: fixture → COPY dump dir → read → reassemble ≡ original") {
    val osm = PbfRead.read(spark, fixture)
    val dir = "/tmp/graft-test-pgcopy-dump"
    PgCopy.writeApiDb(Normalize.demux(osm), dir)
    val back = Normalize.reassemble(spark, PgCopy.readApiDb(spark, dir))
    // apidb cannot represent tag order (no sequence column): compare
    // with tags canonicalized by (k, v) on both sides
    def canonTags(ds: org.apache.spark.sql.Dataset[graft.model.OsmEntity]) =
      ds.map(e => e.copy(tags = e.tags.sortBy(t => (t.k, t.v))))
    assert(Normalize.diffCount(canonTags(osm), canonTags(back)) == 0)
  }

  test("writeApiDb → readApiDb keeps every table's row count (history fixture)") {
    val db = Normalize.demux(graft.queries.OsmQueries.historyFixture(spark))
    val dir = java.nio.file.Files.createTempDirectory("graft-test-pgcopy-hist").toString
    // the writes run on pool threads, each in its own span nested in
    // the caller's
    val (_, m) = graft.util.Obs.span(spark, "export")(PgCopy.writeApiDb(db, dir))
    assert(m.ledger.map(_.description).toSet ==
      db.tables.map { case (t, _) => s"pgcopy write $t" }.toSet)
    val back = PgCopy.readApiDb(spark, dir).tables.map { case (t, df) => t -> df.count() }
    val want = db.tables.map { case (t, df) => t -> df.count() }
    assert(back == want)
    assert(want.forall(_._2 > 0), want)
  }
}
