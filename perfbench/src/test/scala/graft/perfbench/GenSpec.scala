package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The workload generator is a pure function of the seed. */
class GenSpec extends AnyFunSuite {
  private def stream(seed: Long) = (
    (0 until 4).map(c => Gen.queryCycle(seed, c)),
    (0 until 4).map(n => Gen.ingestInsert(seed, n)),
    (0L until 5000L by 97L).map { i =>
      Gen.storePoint(seed, Gen.series.map(_.name).toArray, Gen.series.map(_.isInt).toArray, i)
    })

  test("the same seed gives the same request stream and store") {
    assert(stream(7L) == stream(7L))
  }

  test("another seed gives another request stream and store") {
    val (q1, i1, p1) = stream(7L)
    val (q2, i2, p2) = stream(8L)
    assert(q1 != q2)
    assert(i1 != i2)
    assert(p1 != p2)
  }

  test("every query cycle holds each kind at its weight") {
    (0 until 20).foreach { c =>
      val kinds = Gen.queryCycle(3L, c).groupBy(_.kind).map { case (k, qs) => k -> qs.size }
      assert(kinds == Gen.QueryWeights.toMap)
    }
  }

  test("inserts carry 1,000 points over 50 distinct series") {
    (0 until 10).foreach { n =>
      val ins = Gen.ingestInsert(5L, n)
      assert(ins.size == 1000)
      assert(ins.points.map(_._1).distinct.size == 50)
    }
  }

  test("the ingest keyspace mixes integer, float and string series") {
    val types = (0 until Gen.IngestKeyspace).map(k => Gen.ingestType(1L, k))
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toDouble / Gen.IngestKeyspace }
    assert(math.abs(types("integer") - 0.45) < 0.03)
    assert(math.abs(types("float") - 0.45) < 0.03)
    assert(math.abs(types("string") - 0.10) < 0.02)
  }
}
