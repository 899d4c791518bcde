package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The generated analytics tables and the answer checks of the
  * registered entries. */
class AnalyticsSpec extends AnyFunSuite {
  private val data = Analytics.generate(3L)
  private val pairs = Analytics.expectedPairs(data)

  test("the same seed gives the same tables") {
    val again = Analytics.generate(3L)
    assert(again.docs.toSeq == data.docs.toSeq)
    assert(again.labels.toSeq == data.labels.toSeq)
    assert(again.vectors.map(_.toSeq).toSeq == data.vectors.map(_.toSeq).toSeq)
  }

  test("the exact near-duplicate pairs are the planted twins, at Jaccard 35/41") {
    val first = Analytics.Docs - Analytics.Twins
    assert(pairs == (0 until Analytics.Twins).map(t => (t.toLong, (first + t).toLong) -> 0.853659).toMap)
  }

  /** Rows as an entry's collect() returns them: looked up by name. */
  private def rows(ddl: String, values: Seq[Seq[Any]]): Array[Row] = {
    val schema = StructType.fromDDL(ddl)
    values.map(v => new GenericRowWithSchema(v.toArray, schema): Row).toArray
  }

  private def pairRows(ps: Map[(Long, Long), Double]): Array[Row] =
    rows("id_a BIGINT, id_b BIGINT, jaccard DOUBLE", ps.toSeq.map { case ((a, b), j) => Seq[Any](a, b, j) })

  test("a dedup answer must list exactly the pairs, with their similarity") {
    assert(Analytics.check("dedup_minhash_lsh", pairRows(pairs), data, pairs).isEmpty)
    assert(Analytics.check("dedup_minhash_lsh", pairRows(pairs.drop(1)), data, pairs).nonEmpty)
    assert(Analytics.check("dedup_minhash_lsh", pairRows(pairs + ((1L, 2L) -> 0.6)), data, pairs).nonEmpty)
    val (p, j) = pairs.head
    assert(Analytics.check("dedup_minhash_lsh", pairRows(pairs + (p -> (j + 0.01))), data, pairs).nonEmpty)
  }

  private def annRows(nb: (Long, Int) => Long): Array[Row] =
    rows("query_id BIGINT, rank BIGINT, neighbor_id BIGINT",
      for (q <- 0L until Analytics.Queries; r <- 1 to Analytics.K) yield Seq(q, r.toLong, nb(q, r)))

  /** The `r`-th other vector in query `q`'s cluster, or in another one. */
  private def member(q: Long, r: Int, same: Boolean): Long =
    data.labels.indices.filter(i => i != q && (data.labels(i) == data.labels(q.toInt)) == same)(r).toLong

  test("an ANN answer must give k distinct neighbours from the query's cluster") {
    assert(Analytics.check("ann_ivfpq_topk", annRows((q, r) => member(q, r, same = true)), data, pairs).isEmpty)
    assert(Analytics.check("ann_ivfpq_topk",
      annRows((q, r) => member(q, r, same = r != 5)), data, pairs).nonEmpty)
    assert(Analytics.check("ann_ivfpq_topk", annRows((q, _) => member(q, 1, same = true)), data, pairs).nonEmpty)
    assert(Analytics.check("ann_ivfpq_topk", annRows((q, r) => if (r == 1) q else member(q, r, same = true)),
      data, pairs).nonEmpty)
  }
}
