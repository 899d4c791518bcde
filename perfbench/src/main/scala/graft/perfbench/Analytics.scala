package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The `llm` operators and the `queries` layer: registered entries,
  * looked up in `SparkEntry.queries` and called with a table
  * directory, as `graft.Bench` calls them, over `embeddings` and
  * `documents` tables the benchmark generates from the seed inside its
  * own work directory. Every answer
  * is checked against what the generated data guarantees.
  *
  *  - `embeddings`: `Vectors` vectors of `Dim` floats, each a seeded
  *    unit cluster centre (one of `Clusters`) plus small uniform noise,
  *    labelled with its cluster. Centres are nearly orthogonal and the
  *    noise is small, so every one of a query's top-k neighbours must
  *    carry the query's label.
  *  - `documents`: `Docs` documents of `Words` distinct words from a
  *    `Vocab`-word vocabulary; the last `Twins` are copies of the first
  *    `Twins` with one middle word replaced (word 3-gram Jaccard 35/41).
  *    The benchmark computes every pair's exact Jaccard similarity over
  *    distinct word 3-grams, and the answer must list exactly the pairs
  *    at or above the entry's threshold, with their similarity.
  */
object Analytics {

  /** Registered entries timed, in run order. */
  val Entries: Seq[String] = Seq("ann_ivfpq_topk", "dedup_minhash_lsh")

  val Vectors = 2000
  val Dim = 64
  val Clusters = 8
  val Noise = 0.05
  val Queries = 10 // the entry's nQueries: vec_id < 10
  val K = 5

  val Docs = 1000
  val Words = 40
  val Vocab = 3000
  val Twins = 50
  val Theta = 0.5 // the entry's threshold

  /** Timed runs of each entry after one untimed, checked warm-up run. */
  val Reps = 2

  final case class Data(vectors: Array[Array[Float]], labels: Array[Int], docs: Array[String])

  private def unit(h: Long): Double = Gen.below(h, 2000001) / 1000000.0 - 1.0

  def generate(seed: Long): Data = {
    val centres = Array.tabulate(Clusters) { c =>
      val v = Array.tabulate(Dim)(i => unit(Gen.mix(seed, 10L, c, i)))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val labels = Array.tabulate(Vectors)(r => Gen.below(Gen.mix(seed, 11L, r), Clusters))
    val vectors = Array.tabulate(Vectors) { r =>
      Array.tabulate(Dim)(i => (centres(labels(r))(i) + Noise * unit(Gen.mix(seed, 12L, r, i))).toFloat)
    }
    val rng = new Gen.Rng(Gen.mix(seed, 13L))
    val base = Array.fill(Docs - Twins)(Gen.distinct(rng, Vocab, Words).toArray)
    val twins = Array.tabulate(Twins) { t =>
      val w = base(t).clone()
      val used = w.toSet
      val fresh = Iterator.continually(rng.int(Vocab)).find(x => !used(x)).get
      w(3 + rng.int(Words - 6)) = fresh
      w
    }
    Data(vectors, labels, (base ++ twins).map(_.map(x => s"w$x").mkString(" ")))
  }

  /** Writes `embeddings.parquet` and `documents.parquet` under `dir`,
    * with the columns `graft.core.Tables` reads. */
  def write(spark: SparkSession, dir: String, d: Data): Unit = {
    val emb = StructType(Seq(StructField("vec_id", LongType), StructField("embedding",
      ArrayType(FloatType)), StructField("label", IntegerType)))
    val docs = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    def save(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$dir/$name.parquet")
    save(d.vectors.indices.map(r => Row(r.toLong, d.vectors(r).toSeq, d.labels(r))), emb, "embeddings")
    save(d.docs.indices.map(r => Row(r.toLong, d.docs(r), "en", "src0", d.docs(r).length.toLong)),
      docs, "documents")
  }

  /** Exact pairs (a < b) at or above `Theta`, with their Jaccard
    * similarity rounded as the entry rounds it (6 decimals). */
  def expectedPairs(d: Data): Map[(Long, Long), Double] = {
    val grams = d.docs.map(_.split(" ").sliding(3).map(_.mkString(" ")).toSet)
    val byGram = mutable.Map.empty[String, mutable.ArrayBuffer[Int]]
    grams.indices.foreach(i => grams(i).foreach(g => byGram.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += i))
    val cands = byGram.valuesIterator.flatMap(ds => for (a <- ds; b <- ds if a < b) yield (a, b)).toSet
    cands.iterator.flatMap { case (a, b) =>
      val inter = (grams(a) & grams(b)).size
      val j = BigDecimal(inter.toDouble / (grams(a).size + grams(b).size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (j >= Theta) Some((a.toLong, b.toLong) -> j) else None
    }.toMap
  }

  /** None when `rows` is the right answer of `entry`, else what is wrong. */
  def check(entry: String, rows: Array[Row], d: Data, pairs: Map[(Long, Long), Double]): Option[String] =
    entry match {
      case "ann_ivfpq_topk" =>
        val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
        if (byQuery.keySet != (0 until Queries).map(_.toLong).toSet)
          return Some(s"queries answered: ${byQuery.keySet.toSeq.sorted}")
        byQuery.toSeq.sortBy(_._1).iterator.map { case (q, rs) =>
          val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
          val ns = rs.map(_.getAs[Long]("neighbor_id"))
          if (ranks != (1L to K.toLong)) Some(s"query $q: ranks $ranks")
          else if (ns.distinct.length != K || ns.contains(q) || ns.exists(n => n < 0 || n >= Vectors))
            Some(s"query $q: neighbours ${ns.mkString(",")}")
          else ns.find(n => d.labels(n.toInt) != d.labels(q.toInt))
            .map(n => s"query $q (cluster ${d.labels(q.toInt)}): neighbour $n is in cluster ${d.labels(n.toInt)}")
        }.collectFirst { case Some(m) => m }
      case "dedup_minhash_lsh" =>
        val got = rows.map { r =>
          val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
          (math.min(a, b), math.max(a, b)) -> r.getAs[Double]("jaccard")
        }
        val gotMap = got.toMap
        if (got.length != gotMap.size) Some(s"${got.length - gotMap.size} duplicate pairs")
        else if (gotMap.keySet != pairs.keySet)
          Some(s"pairs differ: missing ${(pairs.keySet -- gotMap.keySet).take(3)}, " +
            s"extra ${(gotMap.keySet -- pairs.keySet).take(3)}")
        else gotMap.collectFirst { case (p, j) if math.abs(j - pairs(p)) > 1e-9 => s"pair $p: jaccard $j != ${pairs(p)}" }
    }
}
