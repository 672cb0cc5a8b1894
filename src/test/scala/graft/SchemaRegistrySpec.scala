package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.cdc.SchemaRegistry
import graft.cdc.SchemaRegistry.ColSpec

/** Schema attach + ALTER invalidation + convert-with-schema — mirrors
  * the reference's schema-change scenario (`core_test.clj`: rows
  * written before an ALTER TABLE convert with the old schema, rows
  * after with the new one) without any mutable cache. */
class SchemaRegistrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val baseReg = SchemaRegistry.base(spark, Map(
    "t" -> Seq(ColSpec("id", "bigint"), ColSpec("body", "text", "latin1")),
    "u" -> Seq(ColSpec("id", "bigint"))))

  test("ALTER closes the old schema version and opens the next (cache-invalidation analogue)") {
    val log = Seq(
      (1L, "upsert", "t", 1L),
      (3L, "upsert", "t", 2L),
      (5L, "alter", "t", 0L),
      (7L, "upsert", "t", 3L),
      (9L, "alter", "t", 0L),
      (11L, "upsert", "t", 4L),
      (2L, "upsert", "u", 9L) // other table: never altered, stays v0
    ).toDF("pos", "op", "tbl", "id")
    val reg = SchemaRegistry.withAlters(
      baseReg, log.filter(col("op") === "alter").select(col("tbl"), col("pos")))
    val out = SchemaRegistry.attach(log.filter(col("op") =!= "alter"), reg)
      .select(col("pos"), col("schema_version"), col("n_cols"), col("cols_sig"))
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((0, 2, "id,body")))
    assert(out(3L) == ((0, 2, "id,body")))
    assert(out(7L) == ((1, 3, "id,body,extra_1")))
    assert(out(11L) == ((2, 4, "id,body,extra_1,extra_2")))
    assert(out(2L) == ((0, 1, "id")))
    assert(!out.contains(5L) && !out.contains(9L), "ALTER events are filtered out")
  }

  test("unregistered tables flow with NULL schema_version (DLQ-routable)") {
    val log = Seq((1L, "upsert", "nope", 1L)).toDF("pos", "op", "tbl", "id")
    val reg = SchemaRegistry.withAlters(baseReg, log.limit(0).select(col("tbl"), col("pos")))
    val out = SchemaRegistry.attach(log, reg).select("pos", "schema_version").collect()
    assert(out.length == 1 && out(0).isNullAt(1))
  }

  test("convertWithSchema passes an unregistered table's row on with a NULL row_map") {
    val log = Seq((1L, "upsert", "t", 1L, Seq("42".getBytes("UTF-8"), "x".getBytes("UTF-8"))),
        (2L, "upsert", "nope", 2L, Seq("7".getBytes("UTF-8"))))
      .toDF("pos", "op", "tbl", "id", "vals")
    val reg = SchemaRegistry.withAlters(baseReg, log.limit(0).select(col("tbl"), col("pos")))
    val out = SchemaRegistry.convertWithSchema(SchemaRegistry.attach(log, reg), "vals")
      .select(col("tbl"), col("row_map")).as[(String, Option[Map[String, String]])].collect().toMap
    assert(out == Map("t" -> Some(Map("id" -> "42", "body" -> "x")), "nope" -> None))
  }

  test("convertWithSchema zips values with column names and decodes per column charset") {
    val cafeLatin1 = Array[Byte](99, 97, 102, 0xE9.toByte) // 'café' in ISO-8859-1
    val log = Seq((1L, "upsert", "t", 1L, Seq("42".getBytes("UTF-8"), cafeLatin1)))
      .toDF("pos", "op", "tbl", "id", "vals")
    val reg = SchemaRegistry.withAlters(baseReg, log.limit(0).select(col("tbl"), col("pos")))
    val out = SchemaRegistry.convertWithSchema(SchemaRegistry.attach(log, reg), "vals")
      .select(col("row_map")).as[Map[String, String]].collect()(0)
    assert(out == Map("id" -> "42", "body" -> "café"))
  }

  test("charset round-trip property: latin1/utf8mb4/ascii byte strings decode exactly") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // charsets × generators of strings encodable in each: latin1 gets
    // the full 8-bit range (accented chars), utf8mb4 gets BMP + astral
    // (emoji — the 4-byte sequences utf8mb3 could not store)
    val latin1Str = Gen.listOf(Gen.choose(32, 255).map(_.toChar))
      .map(_.mkString.filter(c => (c < 0x7f || c >= 0xa0))) // printable latin1
    val utf8Str = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('é', 'ß', '中', 'Ω', 'ク'),
      1 -> Gen.const('\uD83D'))).map(_.mkString.replace("\uD83D", "😀")) // 😀
    val asciiStr = Gen.listOf(Gen.choose(32, 126).map(_.toChar)).map(_.mkString)
    val cases = Gen.oneOf(
      latin1Str.map(s => (s, "latin1", "ISO-8859-1")),
      utf8Str.map(s => (s, "utf8mb4", "UTF-8")),
      asciiStr.map(s => (s, "ascii", "US-ASCII")))
    val p = Prop.forAll(Gen.listOfN(6, cases)) { rows =>
      val reg = SchemaRegistry.base(spark,
        Map("t" -> Seq(ColSpec("body", "text", null)))) // charset set per row below
      val dfRows = rows.zipWithIndex.map { case ((s, mycs, jvmcs), i) =>
        (i.toLong, "upsert", "t", i.toLong, Seq(s.getBytes(jvmcs)), mycs)
      }
      val log = dfRows.toDF("pos", "op", "tbl", "id", "vals", "cs")
      val regV = SchemaRegistry.withAlters(reg, log.limit(0).select(col("tbl"), col("pos")))
      val attached = SchemaRegistry.attach(log, regV)
        .withColumn("col_charsets", array(col("cs"))) // per-row charset
      val out = SchemaRegistry.convertWithSchema(attached, "vals")
        .select(col("id"), element_at(col("row_map"), "body"))
        .as[(Long, String)].collect().toMap
      rows.zipWithIndex.forall { case ((s, _, _), i) => out(i.toLong) == s }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), p)
    assert(res.passed, res.status.toString)
  }

  test("unknown MySQL charset raises instead of silent mojibake (Charset/forName parity)") {
    val log = Seq((1L, "upsert", "t", 1L, Seq("x".getBytes("UTF-8"))))
      .toDF("pos", "op", "tbl", "id", "vals")
    val reg = SchemaRegistry.withAlters(
      SchemaRegistry.base(spark, Map("t" -> Seq(ColSpec("body", "text", "nosuch_cs")))),
      log.limit(0).select(col("tbl"), col("pos")))
    val e = intercept[Exception] {
      SchemaRegistry.convertWithSchema(SchemaRegistry.attach(log, reg), "vals")
        .select(col("row_map")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("charset"), e.getMessage)
  }

  test("malformed bytes raise instead of decoding to replacement characters") {
    val log = Seq((1L, "upsert", "t", 1L, Seq(Array[Byte](0xC3.toByte, 0x28))))
      .toDF("pos", "op", "tbl", "id", "vals")
    val reg = SchemaRegistry.withAlters(
      SchemaRegistry.base(spark, Map("t" -> Seq(ColSpec("body", "text", "utf8mb4")))),
      log.limit(0).select(col("tbl"), col("pos")))
    val e = intercept[Exception] {
      SchemaRegistry.convertWithSchema(SchemaRegistry.attach(log, reg), "vals")
        .select(col("row_map")).collect()
    }
    assert(e.getMessage.contains("MALFORMED_CHARACTER_CODING"), e.getMessage)
  }

  test("streaming schema attach: stream-static join attaches versions, DLQ-routes unknowns") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val alters = Seq(("t", 5L)).toDF("tbl", "pos")
    val reg = SchemaRegistry.withAlters(baseReg, alters)
    val in = MemoryStream[(Long, String, String, Long)]
    val stream = in.toDF().toDF("pos", "op", "tbl", "id")
    val q = SchemaRegistry.attach(stream, reg)
      .select(col("pos"), col("tbl"), col("schema_version"), col("n_cols"))
      .writeStream.format("memory").queryName("b9").outputMode("append").start()
    in.addData((1L, "upsert", "t", 1L), (2L, "upsert", "nope", 9L))
    q.processAllAvailable()
    in.addData((7L, "upsert", "t", 2L)) // post-ALTER row in a later batch
    q.processAllAvailable(); q.stop()
    val out = spark.table("b9").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (if (r.isNullAt(2)) None else Some((r.getInt(2), r.getInt(3))))).toMap
    assert(out((1L, "t")) == Some((0, 2)))
    assert(out((7L, "t")) == Some((1, 3)))
    assert(out((2L, "nope")).isEmpty, "unknown table → NULL version (DLQ-routable)")
  }

  test("two ALTERs at the same pos: deterministic tie-break, later version wins the interval") {
    val alters = Seq(("t", 5L), ("t", 5L)).toDF("tbl", "pos")
    val reg = SchemaRegistry.withAlters(baseReg, alters)
    // the tied ALTERs open versions 1 and 2 both from pos 5; ordering
    // until_pos by (from_pos, version) pins the empty interval on v1
    val intervals = reg.filter(col("tbl") === "t")
      .select(col("version"), col("from_pos"), col("until_pos"))
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(intervals.map(_._1).toSeq == Seq(0, 1, 2))
    assert(intervals(1) == ((1, 5L, 5L)), "earlier tied version gets the empty interval")
    assert(intervals(2)._2 == 5L && intervals(2)._3 == Long.MaxValue)
    val log = Seq((5L, "upsert", "t", 1L), (9L, "upsert", "t", 2L))
      .toDF("pos", "op", "tbl", "id")
    val out = SchemaRegistry.attach(log, reg)
      .select(col("pos"), col("schema_version"), col("n_cols"))
      .as[(Long, Int, Int)].collect()
    assert(out.length == 2, "disjoint intervals ⇒ exactly one schema per row")
    val byPos = out.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byPos(5L) == ((2, 4)), "row at the tied pos sees the last ALTER's schema")
    assert(byPos(9L) == ((2, 4)))
  }

  test("baseFromColumns folds an information_schema frame into the exact base() shape") {
    // rows deliberately out of ordinal order — the aggregate must sort
    val isc = Seq(
      ("t", 2L, "body", "text", "latin1", ""),
      ("t", 1L, "id", "bigint", null, "PRI"),
      ("u", 1L, "id", "bigint", null, "PRI")
    ).toDF("table_name", "ordinal_position", "column_name", "data_type",
      "character_set_name", "column_key")
    val viaIsc = SchemaRegistry.baseFromColumns(isc)
      .select("tbl", "version", "from_pos", "col_names", "col_types", "col_charsets")
      .as[(String, Int, Long, Seq[String], Seq[String], Seq[String])].collect().toSet
    val viaSpecs = baseReg
      .select("tbl", "version", "from_pos", "col_names", "col_types", "col_charsets")
      .as[(String, Int, Long, Seq[String], Seq[String], Seq[String])].collect().toSet
    assert(viaIsc == viaSpecs)
    // the production pull is one pushdown-able subquery over all tables
    val q = SchemaRegistry.informationSchemaQuery("mydb", Seq("t", "u"))
    assert(q.contains("information_schema.columns") && q.contains("'t', 'u'")
      && q.contains("table_schema = 'mydb'"))
  }

  test("zipmap semantics: pairs up to the shorter side (pre-ALTER row, post-ALTER schema)") {
    // a row written with 2 values read under a 3-column schema pairs 2
    val log = Seq((7L, "upsert", "t", 1L, Seq("1".getBytes("UTF-8"), "x".getBytes("UTF-8"))))
      .toDF("pos", "op", "tbl", "id", "vals")
    val alters = Seq(("t", 5L)).toDF("tbl", "pos")
    val reg = SchemaRegistry.withAlters(baseReg, alters)
    val out = SchemaRegistry.convertWithSchema(SchemaRegistry.attach(log, reg), "vals")
      .select(col("schema_version"), col("row_map"))
      .as[(Int, Map[String, String])].collect()(0)
    assert(out._1 == 1)
    assert(out._2 == Map("id" -> "1", "body" -> "x"))
  }

  test("migrateToLatest aligns by name: added columns show ∅, dropped columns vanish") {
    // registry: v0 = (a, b); v1 = (a, c) — b dropped, c added
    val registry = Seq(
      ("t", 0, Seq("a", "b")),
      ("t", 1, Seq("a", "c")))
      .toDF("tbl", "version", "col_names")
    // one row decoded under each version
    val converted = Seq(
      ("t", 0, Map("a" -> "1", "b" -> "2")),
      ("t", 1, Map("a" -> "3", "c" -> "4")))
      .toDF("tbl", "schema_version", "row_map")
    val out = SchemaRegistry.migrateToLatest(converted, registry)
      .select(col("schema_version"), col("target_version"),
        col("target_n_cols"), col("migrated_sig"))
      .as[(Int, Int, Int, String)].collect().sortBy(_._1)
    assert(out(0) == ((0, 1, 2, "a=1,c=∅")),
      "v0 row: shared a carries, dropped b vanishes, added c is absent")
    assert(out(1) == ((1, 1, 2, "a=3,c=4")), "latest-version row is identity")
  }

  test("migrateToLatest raises on a row_map that is not in its version's column order") {
    val registry = Seq(("t", 0, Seq("a", "b"))).toDF("tbl", "version", "col_names")
    val converted = Seq(("t", 0, Map("b" -> "2", "a" -> "1")))
      .toDF("tbl", "schema_version", "row_map")
    val e = intercept[Exception] {
      SchemaRegistry.migrateToLatest(converted, registry).select(col("migrated_sig")).collect()
    }
    assert(e.getMessage.contains("is not column a"), e.getMessage)
  }
}
