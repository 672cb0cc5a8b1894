package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Tests of the benchmark's own generator and oracle, plus one check
  * that graft's batch chain folds a small generated log exactly as the
  * oracle does. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def ev(pos: Long, op: String, id: Long, tx: Long, amount: Double,
                 oldId: Long = -1, etype: String = CdcGen.DataEtype, tbl: String = "customer") =
    GenEvent(pos, op, tbl, id, if (oldId < 0) id else oldId, tx, etype, amount, CdcGen.BaseCols)

  def oracleCases(): Unit = {
    val keep = Set("customer")
    check("oracle: PK-changing update is a delete and an upsert at one position") {
      val m = Oracle.intoEntityMap(Seq(("customer", 1L) -> ((1.0, 0L))),
        Seq(ev(5, "update", 2, 1, 9.0, oldId = 1)), keep)
      m == Map(("customer", 2L) -> ((9.0, 5L)))
    }
    check("oracle: update onto its own key keeps one row") {
      Oracle.intoEntityMap(Nil, Seq(ev(1, "upsert", 3, 1, 1.0), ev(2, "update", 3, 2, 2.0)), keep) ==
        Map(("customer", 3L) -> ((2.0, 2L)))
    }
    check("oracle: delete then re-insert keeps the re-inserted row") {
      Oracle.intoEntityMap(Seq(("customer", 4L) -> ((1.0, 0L))),
        Seq(ev(1, "delete", 4, 1, 0), ev(2, "upsert", 4, 2, 7.0)), keep) ==
        Map(("customer", 4L) -> ((7.0, 2L)))
    }
    check("oracle: a rolled-back transaction leaves no trace") {
      Oracle.intoEntityMap(Seq(("customer", 5L) -> ((1.0, 0L))),
        Seq(ev(1, "upsert", 5, 1, 3.0), ev(2, "delete", 6, 1, 0, etype = CdcGen.RollbackEtype),
          ev(3, "delete", 5, 1, 0)), keep) == Map(("customer", 5L) -> ((1.0, 0L)))
    }
    check("oracle: filtered tables and rotates are ignored; order is by position") {
      Oracle.intoEntityMap(Nil, Seq(ev(3, "upsert", 1, 2, 2.0), ev(1, "upsert", 1, 1, 1.0),
        ev(2, "upsert", 9, 1, 1.0, tbl = CdcGen.Filtered),
        ev(4, "upsert", 1, 3, 0, etype = CdcGen.RotateEtype, tbl = "rotate")), keep) ==
        Map(("customer", 1L) -> ((2.0, 3L)))
    }
    check("oracle: resume token names the last rotate and the next position") {
      Oracle.resumeToken(Seq(ev(1, "upsert", 1, 1, 1.0),
        ev(2, "upsert", 7, 2, 0, etype = CdcGen.RotateEtype, tbl = "rotate"),
        ev(3, "upsert", 1, 3, 1.0))) == (("bin.000007", 4L))
    }
  }

  def generatorCases(): Unit = {
    def rendered(in: BootstrapInput): Seq[String] =
      in.snapshot.map(_.toString) ++ in.alters.map(_.toString) ++
        in.log.map(e => e.toString + Bootstrap.cells(e).map(b => new String(b, "UTF-8")).mkString("|"))
    val a = CdcGen.bootstrap(42, 2000, 40000)
    check("generator: same seed gives identical bulk-load inputs") {
      rendered(a) == rendered(CdcGen.bootstrap(42, 2000, 40000))
    }
    check("generator: another seed gives other inputs") {
      rendered(a) != rendered(CdcGen.bootstrap(43, 2000, 40000))
    }
    val data = a.log.filter(_.etype != CdcGen.RotateEtype)
    def share(p: GenEvent => Boolean) = data.count(p).toDouble / data.size
    val txs = data.groupBy(_.tx)
    val rbShare = txs.count(_._2.exists(_.etype == CdcGen.RollbackEtype)).toDouble / txs.size
    check(f"generator: rolled-back tx share $rbShare%.4f near ${CdcGen.RollbackShare}") {
      math.abs(rbShare - CdcGen.RollbackShare) < 0.01
    }
    check("generator: one rotate per RotateEvery events") {
      a.log.count(_.etype == CdcGen.RotateEtype) == (40000 - 1) / CdcGen.RotateEvery
    }
    check(f"generator: delete share ${share(_.op == "delete")}%.4f") {
      math.abs(share(_.op == "delete") - CdcGen.DeleteShare) < 0.01
    }
    check(f"generator: PK-changing update share ${share(e => e.op == "update" && e.oldId != e.id)}%.4f") {
      math.abs(share(e => e.op == "update" && e.oldId != e.id) - CdcGen.PkChangeShare) < 0.01
    }
    check(f"generator: filtered-table share ${share(_.tbl == CdcGen.Filtered)}%.4f") {
      math.abs(share(_.tbl == CdcGen.Filtered) - CdcGen.FilteredShare) < 0.01
    }
    check("generator: ALTER versions per kept table, schema width follows them") {
      a.alters.groupBy(_._1).map { case (t, v) => t -> v.size } ==
        CdcGen.Kept.map(_ -> CdcGen.AltersPerTable).toMap &&
        data.filter(_.tbl == "customer").last.nCols == CdcGen.BaseCols + CdcGen.AltersPerTable
    }
    val g1 = new ReplicateGen(7, 5000, 100)
    val live = Vector.fill(5000)(g1.nextTx())
    val g2 = new ReplicateGen(7, 5000, 100)
    check("generator: same seed gives identical live transactions") {
      live == Vector.fill(5000)(g2.nextTx())
    }
    check("generator: another seed gives other live transactions") {
      new ReplicateGen(8, 5000, 100).nextTx() != live.head
    }
    check("generator: live positions continue after the bulk load") {
      live.flatMap(_.events).map(_.pos) == (101L to live.map(_.events.size).sum + 100L)
    }
    val keys = live.flatMap(_.events).groupBy(e => (e.tbl, e.id)).map(_._2.size).toSeq.sortBy(-_)
    val top = keys.take(110).sum.toDouble / keys.sum
    check(f"generator: Zipf skew, top 1%% of keys carry $top%.2f of events") { top > 0.4 }
  }

  /** graft's batch chain on a small generated log equals the oracle. */
  def chainCase(spark: SparkSession): Unit = {
    val dir = Files.createTempDirectory(Main.tmpRoot, "selftest").toString
    val inp = Bootstrap.write(spark, CdcGen.bootstrap(5, 300, 3000), s"$dir/input")
    val view = s"$dir/view"
    val state = Bootstrap.stages(spark, inp).last._2
    Bootstrap.publish(spark, state, view)
    val tok = Bootstrap.token(spark, inp)
    val got = graft.streaming.UpsertSink.readCurrent(spark, view).collect()
      .map(r => (r.getAs[String]("tbl"), r.getAs[Long]("id")) ->
        (r.getAs[Double]("value"), r.getAs[Long]("lastPos"))).toMap
    check(s"graft batch chain folds a generated log as into-entity-map (${got.size} keys)") {
      got == inp.expected && tok == inp.token
    }
    Main.deleteRec(new java.io.File(dir))
  }

  def main(args: Array[String]): Unit = {
    oracleCases()
    generatorCases()
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${Main.tmpRoot}/spark-local")
      .config("spark.sql.warehouse.dir", s"${Main.tmpRoot}/warehouse")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try chainCase(spark) finally spark.stop()
    println(s"selftest failures: $failures")
    if (failures > 0) sys.exit(1)
  }
}
