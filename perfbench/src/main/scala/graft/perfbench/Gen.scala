package graft.perfbench

import scala.collection.mutable

import graft.streaming.Ingest.PointIn

/** Deterministic workload generator. Every input of a run — the
  * preloaded store, each insert body and each query with its
  * parameters — is a pure function of the run's seed, so the same
  * seed gives the same request stream and the benchmark can compute
  * every expected answer itself.
  */
object Gen {

  /** First timestamp of the preloaded store (second precision,
    * day-aligned so shard boundaries fall on whole days). */
  val T0: Long = 1700006400L

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of its input. */
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def mix(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(mix(seed) ^ a) ^ b) ^ c)

  /** Uniform integer in [0, n). */
  def below(h: Long, n: Int): Int = java.lang.Long.remainderUnsigned(h, n.toLong).toInt

  /** Small seeded PRNG for request streams (sequential draws). */
  final class Rng(seed: Long) {
    private var state = mix(seed)
    def next(): Long = { state += 0x9E3779B97F4A7C15L; mix(state) }
    def int(n: Int): Int = below(next(), n)
    def chance(pct: Int): Boolean = int(100) < pct
  }

  // ---------------------------------------------------------------
  // The preloaded store of the `query` workload
  // ---------------------------------------------------------------

  /** Store shape: `f.g<G>.<j>` float series (G < FloatGroups) and
    * `i.g<G>.<j>` integer series (G < IntGroups), `PerGroup` series per
    * group, `Points` points per series at `Step` seconds: 1,000 series
    * × 1,000 points over ~7 daily shards. */
  object Store {
    val FloatGroups = 5
    val IntGroups = 5
    val PerGroup = 100
    val Points = 1000
    val Step = 600L
    val NSeries: Int = (FloatGroups + IntGroups) * PerGroup
    val NPoints: Long = NSeries.toLong * Points
  }

  final case class Series(idx: Int, name: String, isInt: Boolean)

  val series: IndexedSeq[Series] = {
    val f = for (g <- 0 until Store.FloatGroups; j <- 0 until Store.PerGroup)
      yield (s"f.g$g.$j", false)
    val i = for (g <- 0 until Store.IntGroups; j <- 0 until Store.PerGroup)
      yield (s"i.g$g.$j", true)
    (f ++ i).zipWithIndex.map { case ((n, isInt), k) => Series(k, n, isInt) }
  }

  /** Per-series phase, so series do not all share timestamps. */
  def phase(seed: Long, s: Int): Long = below(mix(seed, 1L, s), Store.Step.toInt).toLong

  def tsOf(seed: Long, s: Int, i: Int): Long = T0 + phase(seed, s) + i * Store.Step

  /** Float values are multiples of 1/8 in (-1000, 1000): sums of them
    * are exact in a double, so `sum` answers compare exactly. */
  def floatVal(h: Long): Double = (below(h, 16000) - 8000) / 8.0
  def intVal(h: Long): Long = below(h, 2000001).toLong - 1000000L

  /** Point `idx` (series-major) of the preloaded store, as the wire
    * row Ingest appends. */
  def storePoint(seed: Long, names: Array[String], ints: Array[Boolean], idx: Long): PointIn = {
    val s = (idx / Store.Points).toInt
    val i = (idx % Store.Points).toInt
    val h = mix(seed, 2L, s, i)
    val ts = tsOf(seed, s, i)
    if (ints(s)) PointIn(names(s), ts, intVal(h).toDouble, "integer", idx, val_int = intVal(h))
    else PointIn(names(s), ts, floatVal(h), "float", idx)
  }

  // ---------------------------------------------------------------
  // The `query` mix
  // ---------------------------------------------------------------

  /** One query of the mix: `kind` names its shape (and the per-kind
    * latency figures), `q` is the SiriDB query text. */
  final case class Query(kind: String, q: String, params: Map[String, Long])

  /** Mix weights: occurrences of each kind in one cycle of the loop. */
  val QueryWeights: Seq[(String, Int)] = Seq(
    "sum_between" -> 2, "max_6h" -> 2, "mean_1h_broad" -> 1,
    "raw_after" -> 2, "chain_diff" -> 1, "merge_mean" -> 1,
    "list_where" -> 2, "count_series" -> 1)

  val CycleLength: Int = QueryWeights.map(_._2).sum

  /** Cycle `c` of the query loop: every kind at its weight, in a
    * seeded order, each with seeded parameters. A run always completes
    * whole cycles, so every run sees the same mix. */
  def queryCycle(seed: Long, c: Int): Seq[Query] = {
    val rng = new Rng(mix(seed, 3L, c))
    val kinds = mutable.ArrayBuffer.from(QueryWeights.flatMap { case (k, w) => Seq.fill(w)(k) })
    // Fisher-Yates with the seeded stream
    for (i <- kinds.indices.reverse) {
      val j = rng.int(i + 1)
      val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
    }
    kinds.toSeq.map(k => query(k, rng))
  }

  private val days = 6

  def query(kind: String, rng: Rng): Query = kind match {
    case "sum_between" =>
      val g = rng.int(Store.IntGroups)
      val a = T0 + rng.int(days) * 86400L + rng.int(24) * 3600L
      Query(kind, s"select sum(1h) from /^i\\.g$g\\..*/ between $a and ${a + 86400L}",
        Map("g" -> g, "a" -> a, "b" -> (a + 86400L)))
    case "max_6h" =>
      val g = rng.int(Store.FloatGroups)
      Query(kind, s"select max(6h) from /^f\\.g$g\\..*/", Map("g" -> g))
    case "mean_1h_broad" =>
      // three of the float groups, in a character class
      val gs = distinct(rng, Store.FloatGroups, 3).sorted
      Query(kind, s"select mean(1h) from /^f\\.g[${gs.mkString}]\\..*/",
        gs.zipWithIndex.map { case (g, k) => s"g$k" -> g.toLong }.toMap)
    case "raw_after" =>
      val s = rng.int(Store.NSeries)
      val x = T0 + rng.int(Store.Points * Store.Step.toInt)
      Query(kind, s"select * from '${series(s).name}' after $x", Map("s" -> s, "x" -> x))
    case "chain_diff" =>
      val g = rng.int(Store.IntGroups)
      Query(kind, s"select max(1d) => difference() from /^i\\.g$g\\..*/", Map("g" -> g))
    case "merge_mean" =>
      val g = rng.int(Store.FloatGroups)
      Query(kind, s"select mean(1h) from /^f\\.g$g\\..*/ merge as 'merged' using mean(1h)",
        Map("g" -> g))
    case "list_where" =>
      val g = rng.int(Store.IntGroups)
      val d = 1 + rng.int(9)
      Query(kind, s"list series name, length where name ~ 'g$g.$d'", Map("g" -> g, "d" -> d))
    case "count_series" =>
      Query(kind, "count series", Map.empty)
  }

  // ---------------------------------------------------------------
  // Insert bodies
  // ---------------------------------------------------------------

  /** One insert: series name → points (ts, value); value is a Long,
    * Double or String. */
  final case class Insert(points: Seq[(String, Seq[(Long, Any)])]) {
    def size: Int = points.map(_._2.size).sum
  }

  /** The `ingest` keyspace: `s.<k>`, typed by hash — 45% integer,
    * 45% float, 10% string. */
  val IngestKeyspace = 5000

  def ingestType(seed: Long, k: Int): String = {
    val b = below(mix(seed, 4L, k), 100)
    if (b < 45) "integer" else if (b < 90) "float" else "string"
  }

  /** Insert `n` of the `ingest` stream: 50 distinct series × 20
    * points; time advances 20 s per insert, and 5% of points arrive
    * up to 1 h out of order. */
  def ingestInsert(seed: Long, n: Int): Insert = {
    val rng = new Rng(mix(seed, 5L, n))
    val chosen = distinct(rng, IngestKeyspace, 50)
    val base = T0 + n.toLong * 20
    Insert(chosen.map { k =>
      val tp = ingestType(seed, k)
      val pts = (0 until 20).map { j =>
        val late = if (rng.chance(5)) 1 + rng.int(3600) else 0
        val ts = base + j - late
        val h = rng.next()
        val v: Any = tp match {
          case "integer" => intVal(h)
          case "float" => floatVal(h)
          case _ => s"v${below(h, 100000)}"
        }
        (ts, v)
      }
      (s"s.$k", pts)
    })
  }

  /** `k` distinct values of [0, n), in a seeded order. */
  def distinct(rng: Rng, n: Int, k: Int): Seq[Int] = {
    val a = Array.tabulate(n)(identity)
    (0 until k).map { i =>
      val j = i + rng.int(n - i)
      val t = a(i); a(i) = a(j); a(j) = t
      a(i)
    }
  }
}
