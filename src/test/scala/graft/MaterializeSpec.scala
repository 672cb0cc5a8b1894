package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkInternals
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** The scoped materialization primitive: what a scope makes is freed
  * when it ends, on success and on failure; what the caller made is not. */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rdds = spark.sparkContext.getPersistentRDDs.keySet
  private def entries = SparkInternals.cachedEntries(spark)
  private def frame(n: Long) = spark.range(n).select(col("id"), (col("id") * 3).as("v"))

  test("a scope that throws releases its persists and its checkpoint") {
    val (rdds0, entries0) = (rdds, entries)
    val e = intercept[IllegalStateException] {
      Materialize.scoped { s =>
        val a = s.persist(frame(100))
        val b = s.persist(frame(200).where(col("v") > 10))
        assert(a.count() == 100 && b.count() > 0)
        val c = s.checkpoint(a.join(b, "id"))
        assert(c.count() > 0)
        assert(rdds.size == rdds0.size + 3, "both caches and the checkpoint are live in the body")
        assert(entries == entries0 + 2)
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(rdds == rdds0, "the failed scope left a persisted RDD")
    assert(entries == entries0, "the failed scope left a cache-manager entry")
  }

  test("a frame the caller persisted comes back untouched and survives the scope") {
    val mine = frame(50).persist()
    try {
      mine.count()
      val before = rdds
      val n = Materialize.scoped { s =>
        val same = s.persist(mine)
        assert(same eq mine)
        s.persist(frame(60)).count() + same.count()
      }
      assert(n == 110)
      assert(rdds == before, "only the scope's own cache is released")
      assert(mine.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally mine.unpersist(blocking = true)
  }

  test("free releases one frame before the scope ends") {
    val rdds0 = rdds
    Materialize.scoped { s =>
      val a = s.persist(frame(70))
      val c = s.checkpoint(frame(80))
      a.count()
      assert(rdds.size == rdds0.size + 2)
      s.free(a)
      assert(rdds.size == rdds0.size + 1, "the freed cache is gone")
      s.free(c)
      assert(rdds == rdds0, "the freed checkpoint is gone")
      assert(s.checkpoint(frame(90)).count() == 90)
    }
    assert(rdds == rdds0)
  }

  test("eager returns a checkpoint that outlives its scope until release") {
    val rdds0 = rdds
    val out = Materialize.eager { s =>
      val a = s.persist(frame(40))
      a.where(col("v") % 2 === 0)
    }
    assert(rdds.size == rdds0.size + 1, "only the returned checkpoint stays")
    assert(out.count() == 20)
    Materialize.release(out, blocking = true)
    assert(rdds == rdds0, "release frees the returned checkpoint")
  }

  test("eager keeps a frame the scope already checkpointed instead of materializing it again") {
    val rdds0 = rdds
    val out = Materialize.eager { s =>
      val older = s.checkpoint(frame(10))
      val last = s.checkpoint(older.select((col("id") + 1).as("id")))
      assert(s.checkpoint(last) eq last)
      last
    }
    assert(rdds.size == rdds0.size + 1, "the older checkpoint is freed, the returned one kept")
    assert(out.count() == 10)
    Materialize.release(out, blocking = true)
    assert(rdds == rdds0)
  }
}
