package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{Changelog, SchemaRegistry}
import graft.cdc.SchemaRegistry.ColSpec
import graft.streaming.UpsertSink
import graft.streaming.ChangelogStream.Change

/** Parquet row of the generated binlog: raw row values arrive as
  * binary cells, decoded only by the schema-attach + convert stages. */
final case class LogRow(pos: Long, op: String, tbl: String, id: Long, old_id: Long,
                        tx: Long, etype: String, vals: Seq[Array[Byte]])

final case class SnapRow(tbl: String, id: Long, amount: Double)

/** Bulk load plus catch-up through graft's batch chain:
  * filterCommitted → attachFile → filterTables → SchemaRegistry.attach →
  * convertWithSchema → expandUpdateImages + entityState, published as a
  * fresh `UpsertSink` view, plus `Changelog.nextPosition`. */
object Bootstrap {
  val KeysPerTable = 5000
  val LogEvents = 20000
  val NumBuckets = 64
  val MinPasses = 1

  val specs: Map[String, Seq[ColSpec]] = CdcGen.Kept.map { t =>
    t -> Seq(ColSpec("id", "bigint"), ColSpec("name", "varchar", "utf8mb4"),
      ColSpec("amount", "decimal"), ColSpec("status", "char", "latin1"))
  }.toMap

  private def amountText(a: Double): String = {
    val c = math.round(a * 100)
    f"${c / 100}.${c % 100}%02d"
  }

  /** The raw row image: one UTF-8 cell per column of the schema in force. */
  def cells(e: GenEvent): Seq[Array[Byte]] =
    if (e.op == "delete" || e.etype == CdcGen.RotateEtype) Nil
    else (Seq(e.id.toString, s"name-${e.id}", amountText(e.amount), if (e.id % 2 == 0) "A" else "B") ++
      (1 to e.nCols - CdcGen.BaseCols).map(k => (e.id * 31 + k).toString)).map(_.getBytes(UTF_8))

  final case class Inputs(in: BootstrapInput, logDir: String, snapDir: String,
                          expected: Map[(String, Long), (Double, Long)], token: (String, Long))

  def write(spark: SparkSession, in: BootstrapInput, dir: String): Inputs = {
    import spark.implicits._
    val logDir = s"$dir/log"
    val snapDir = s"$dir/snapshot"
    in.log.map(e => LogRow(e.pos, e.op, e.tbl, e.id, e.oldId, e.tx, e.etype, cells(e)))
      .toDS().repartition(4).write.mode(SaveMode.Overwrite).parquet(logDir)
    in.snapshot.map { case (t, id, a) => SnapRow(t, id, a) }
      .toDS().repartition(4).write.mode(SaveMode.Overwrite).parquet(snapDir)
    Inputs(in, logDir, snapDir, Oracle.bootstrapState(in), Oracle.resumeToken(in.log))
  }

  /** The chain's prefixes, in order, by stage name. */
  def stages(spark: SparkSession, inp: Inputs): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val log = spark.read.parquet(inp.logDir)
    val snap = spark.read.parquet(inp.snapDir)
    val registry = SchemaRegistry.withAlters(SchemaRegistry.base(spark, specs),
      inp.in.alters.toDF("tbl", "pos"))
    val committed = Changelog.filterCommitted(log)
    val filed = Changelog.attachFile(committed)
    val kept = Changelog.filterTables(filed, CdcGen.Kept.toSet)
    val attached = SchemaRegistry.attach(kept, registry)
    val converted = SchemaRegistry.convertWithSchema(attached, "vals")
      .select(col("pos"), col("op"), col("tbl"), col("id"), col("old_id"),
        col("row_map").getItem("amount").cast("double").as("val"))
    val snapshotRows = snap.select(lit(CdcGen.SnapshotPos).as("pos"), lit("upsert").as("op"),
      col("tbl"), col("id"), col("id").as("old_id"), col("amount").as("val"))
    val state = Changelog.entityState(
      Changelog.expandUpdateImages(converted.unionByName(snapshotRows)))
    Seq("filter_committed" -> committed, "attach_file" -> filed, "filter_tables" -> kept,
      "schema_attach" -> attached, "convert" -> converted, "fold" -> state)
  }

  def publish(spark: SparkSession, state: DataFrame, viewDir: String): Unit = {
    import spark.implicits._
    val changes: Dataset[Change] = state.select(col("last_pos").as("pos"), lit("upsert").as("op"),
      col("tbl"), col("id"), col("val").as("value")).as[Change]
    UpsertSink.mergeBatch(changes, viewDir, 0L, NumBuckets, statsCols = Seq("lastPos"))
  }

  def token(spark: SparkSession, inp: Inputs): (String, Long) = {
    val r = Changelog.nextPosition(spark.read.parquet(inp.logDir)).collect().head
    (r.getString(0), r.getLong(1))
  }

  /** Compare the published view and resume token with the oracle. */
  def check(ctx: Ctx, inp: Inputs, viewDir: String, tok: (String, Long)): Unit = {
    val got = UpsertSink.readCurrent(ctx.spark, viewDir).collect()
      .map(r => (r.getAs[String]("tbl"), r.getAs[Long]("id")) ->
        (r.getAs[Double]("value"), r.getAs[Long]("lastPos"))).toMap
    if (got != inp.expected) {
      val wrong = inp.expected.count { case (k, v) => !got.get(k).contains(v) } +
        got.keySet.diff(inp.expected.keySet).size
      ctx.fail(s"bootstrap view differs from into-entity-map: $wrong keys " +
        s"(got ${got.size} rows, expected ${inp.expected.size})")
    }
    if (tok != inp.token) ctx.fail(s"resume token $tok, expected ${inp.token}")
  }

  /** One bulk load into a fresh view directory; returns its wall time. */
  def pass(ctx: Ctx, inp: Inputs, viewDir: String): Double = {
    val (tok, secs) = Stats.time {
      val state = stages(ctx.spark, inp).last._2
      publish(ctx.spark, state, viewDir)
      token(ctx.spark, inp)
    }
    ctx.attempt("bootstrap check")(check(ctx, inp, viewDir, tok))
    secs
  }

  /** Traced pass: each chain prefix materialized through `noop`, so a
    * stage's self time is its prefix minus the previous prefix. */
  def tracedPass(ctx: Ctx, inp: Inputs, viewDir: String): Map[String, Double] = {
    val tr = ctx.tracer
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    tr.span("bootstrap.pass") {
      val chain = stages(ctx.spark, inp)
      var prev = 0.0
      chain.foreach { case (name, df) =>
        val (_, s) = Stats.time(tr.span(s"cdc.$name")(df.write.mode("overwrite").format("noop").save()))
        out(s"cdc.$name.self_s") = s - prev
        prev = s
      }
      val (_, pub) = Stats.time(tr.span("sink.publish")(publish(ctx.spark, chain.last._2, viewDir)))
      out("sink.publish_s") = pub - prev
      val (tok, nps) = Stats.time(tr.span("cdc.next_position")(token(ctx.spark, inp)))
      out("cdc.next_position.s") = nps
      ctx.attempt("bootstrap check")(check(ctx, inp, viewDir, tok))
    }
    out.toMap
  }
}

/** Spark-engine per-layer numbers over a run's measured window. */
object Engine {
  def report(ctx: Ctx, c: Counters): Unit = if (ctx.trace) {
    ctx.layers("spark.gc_s") = c.gcMs / 1e3
    ctx.layers("spark.spill_bytes") = c.spillBytes.toDouble
    ctx.layers("spark.tasks") = c.tasks.toDouble
    ctx.layers("spark.peak_exec_mem_bytes") = c.peakExecMemBytes.toDouble
  }
}
