package graft.functions

import graft.SparkSpec
import org.apache.spark.TaskContext
import org.locationtech.jts.geom.Coordinate

/**
 * Lifecycle of GeoPredicate's per-task build-side cache: each distinct
 * right operand is parsed once, the WKB byte budget caps what it holds,
 * and the task's completion listener empties it. Each case runs inside
 * a one-partition Spark task so that the cache is tied to a real task.
 */
class PlainRightCacheSpec extends SparkSpec {
  import PlainRightCacheSpec._

  /** Runs `body` in one Spark task on a cache opened for that task;
   *  the cache is left in [[PlainRightCacheSpec.last]] for inspection
   *  after the task has completed. */
  private def inTask[T: scala.reflect.ClassTag](body: PlainRightCache => T): T =
    spark.sparkContext.parallelize(Seq(0), 1).map { _ =>
      val c = PlainRightCache.open(TaskContext.get())
      last = c
      body(c)
    }.collect().head

  test("more than 32 distinct right operands are each parsed once and prepared on reuse") {
    val (parses, size, prepared, sameEntries, geomsMatch) = inTask { c =>
      // every probe gets a fresh array, as a row's bytes are, so hits
      // are found by value
      val first = (0 until 200).map(k => c.lookup(polygon(k, 8)))
      val notYetPrepared = first.forall(_.prep == null)
      val second = (0 until 200).map(k => c.lookup(polygon(k, 8)))
      val third = (0 until 200).map(k => c.lookup(polygon(k, 8)))
      (c.parses, c.size, notYetPrepared && second.forall(_.prep != null),
        first.indices.forall(i => (first(i) eq second(i)) && (second(i) eq third(i))),
        third.indices.forall(k => third(k).geom.equalsExact(Jts.read(polygon(k, 8)))))
    }
    assert(parses == 200 && size == 200, s"parses=$parses size=$size")
    assert(prepared, "entries must be prepared from their second sighting, not their first")
    assert(sameEntries, "a repeated operand must hit its entry")
    assert(geomsMatch)
  }

  test("the WKB byte budget caps what the cache holds") {
    val budget = PlainRightCache.BudgetBytes
    val (maxHeld, finalHeld, finalSize, total, oversize) = inTask { c =>
      // ~64 KiB polygons until twice the budget has gone through
      var maxHeld = 0L
      var total = 0L
      var k = 0
      while (total <= 2 * budget) {
        val b = polygon(k, 4096)
        require(c.lookup(b) != null)
        total += b.length
        maxHeld = math.max(maxHeld, c.heldBytes)
        k += 1
      }
      (maxHeld, c.heldBytes, c.size, total,
        c.lookup(new Array[Byte](budget.toInt + 1)))
    }
    assert(maxHeld <= budget, s"held $maxHeld bytes over a $budget-byte budget")
    assert(finalHeld <= budget && finalSize > 0 && finalHeld < total)
    assert(oversize == null, "an operand over the whole budget must not be cached")
  }

  test("the task completion listener leaves nothing behind") {
    val (sizeInTask, heldInTask) = inTask { c =>
      (0 until 50).foreach(k => c.lookup(polygon(k, 8)))
      (c.size, c.heldBytes)
    }
    assert(sizeInTask == 50 && heldInTask > 0)
    val c = last
    assert(c.size == 0 && c.heldBytes == 0, s"size=${c.size} held=${c.heldBytes} after the task")
    assert(c.lookup(polygon(0, 8)) == null, "a released cache must not fill up again")
  }

  test("an empty right operand raises the WKB parse error, not an index error") {
    assert(PlainRightCache.keyHash(Array.emptyByteArray) == 0)
    val msg = inTask { c =>
      try { c.lookup(Array.emptyByteArray); "no error" }
      catch { case e: Throwable => e.getClass.getName + ": " + e.getMessage }
    }
    val expected = intercept[org.locationtech.jts.io.ParseException](Jts.read(Array.emptyByteArray))
    assert(msg == expected.getClass.getName + ": " + expected.getMessage)
  }
}

object PlainRightCacheSpec {
  /** The cache of the latest task run by `inTask` (local mode: the task
   *  runs in this JVM). */
  @volatile var last: PlainRightCache = _

  /** Regular `verts`-gon k as WKB, a fresh array per call. */
  def polygon(k: Int, verts: Int): Array[Byte] = {
    val ring = (0 to verts).map { i =>
      val a = k * 0.01 + (i % verts) * 2 * math.Pi / verts
      new Coordinate(k + 5 * math.cos(a), 5 * math.sin(a))
    }
    Jts.write(Jts.gf.createPolygon(ring.toArray))
  }
}
