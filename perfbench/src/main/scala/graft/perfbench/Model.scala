package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import Gen.{Query, Store}

/** The benchmark's own model of the preloaded store: the generated
  * points held in plain arrays, and the SiriDB semantics of each query
  * kind of the mix evaluated over them. Every response is compared
  * with the answer computed here.
  *
  * Semantics used (the reference's, as the program documents them):
  *  - `agg(R)` groups points into right-aligned buckets labelled
  *    ceil(ts / R) * R;
  *  - `between A and B` keeps A <= ts < B, `after X` keeps ts >= X;
  *  - `=> difference()` emits, per series, each bucket's value minus
  *    the previous bucket's, labelled with the later bucket;
  *  - `merge as 'm' using f` applies the select's chain per series,
  *    then `f` to the union of those results;
  *  - `name ~ 'p'` is a regex search on the series name.
  */
final class Model(seed: Long) {
  import Model._

  private val series = Gen.series
  private val byName = series.map(s => s.name -> s.idx).toMap

  /** Timestamps and values (as doubles; integer series hold exact
    * integers well inside 2^53) per series index. */
  private val ts: Array[Array[Long]] = Array.tabulate(Store.NSeries) { s =>
    Array.tabulate(Store.Points)(i => Gen.tsOf(seed, s, i))
  }
  private val vals: Array[Array[Double]] = Array.tabulate(Store.NSeries) { s =>
    Array.tabulate(Store.Points) { i =>
      val h = Gen.mix(seed, 2L, s, i)
      if (series(s).isInt) Gen.intVal(h).toDouble else Gen.floatVal(h)
    }
  }

  private def label(t: Long, r: Long): Long = (t + r - 1) / r * r

  private def group(prefix: String, g: Long): Seq[Int] =
    (0 until Store.PerGroup).map(j => byName(s"$prefix.g$g.$j"))

  private def bucketed(s: Int, r: Long, keep: Long => Boolean)
      : mutable.TreeMap[Long, mutable.ArrayBuffer[Double]] = {
    val out = mutable.TreeMap.empty[Long, mutable.ArrayBuffer[Double]]
    var i = 0
    while (i < ts(s).length) {
      val t = ts(s)(i)
      if (keep(t)) out.getOrElseUpdate(label(t, r), mutable.ArrayBuffer.empty) += vals(s)(i)
      i += 1
    }
    out
  }

  private def agg(s: Int, r: Long, f: Seq[Double] => Double,
      keep: Long => Boolean = _ => true): Seq[(Long, Double)] =
    bucketed(s, r, keep).toSeq.map { case (l, vs) => (l, f(vs.toSeq)) }

  private def mean(vs: Seq[Double]): Double = vs.sum / vs.size

  def expected(q: Query): Expected = {
    val p = q.params
    q.kind match {
      case "sum_between" =>
        val (a, b) = (p("a"), p("b"))
        SelectAnswer(Points(isInt = true, group("i", p("g")).map { s =>
          series(s).name -> agg(s, 3600L, _.sum, t => t >= a && t < b)
        }.toMap))
      case "max_6h" =>
        SelectAnswer(Points(isInt = false, group("f", p("g")).map { s =>
          series(s).name -> agg(s, 21600L, _.max)
        }.toMap))
      case "mean_1h_broad" =>
        val ss = (0 until 3).flatMap(k => group("f", p(s"g$k")))
        SelectAnswer(Points(isInt = false, ss.map { s =>
          series(s).name -> agg(s, 3600L, mean)
        }.toMap))
      case "raw_after" =>
        val s = p("s").toInt
        val x = p("x")
        SelectAnswer(Points(isInt = series(s).isInt, Map(series(s).name ->
          ts(s).indices.filter(i => ts(s)(i) >= x).map(i => (ts(s)(i), vals(s)(i))))))
      case "chain_diff" =>
        SelectAnswer(Points(isInt = true, group("i", p("g")).map { s =>
          val daily = agg(s, 86400L, _.max)
          series(s).name -> daily.zip(daily.drop(1)).map { case ((_, v0), (t1, v1)) => (t1, v1 - v0) }
        }.toMap))
      case "merge_mean" =>
        val perSeries = group("f", p("g")).flatMap(s => agg(s, 3600L, mean))
        val merged = perSeries.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (l, xs) => (l, mean(xs.map(_._2))) }
        SelectAnswer(Points(isInt = false, Map("merged" -> merged)))
      case "list_where" =>
        val re = java.util.regex.Pattern.compile(s"g${p("g")}.${p("d")}")
        TableAnswer(Seq("name", "length"), series.filter(s => re.matcher(s.name).find())
          .map(s => Seq(s.name, Store.Points.toString)).toSet)
      case "count_series" =>
        TableAnswer(Seq("series"), Set(Seq(Store.NSeries.toString)))
    }
  }

  /** None when `got` matches the expected answer, else what differs. */
  def check(q: Query, got: JsonNode): Option[String] = Model.compare(expected(q), got)
}

object Model {

  /** Expected select answer: series → points (ts, value); `isInt`
    * says whether values must come back as integers. */
  final case class Points(isInt: Boolean, data: Map[String, Seq[(Long, Double)]])

  sealed trait Expected
  final case class SelectAnswer(p: Points) extends Expected
  final case class TableAnswer(columns: Seq[String], rows: Set[Seq[String]]) extends Expected

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def compare(exp: Expected, got: JsonNode): Option[String] = exp match {
    case e: SelectAnswer =>
      val want = e.p.data
      if (got == null || !got.isObject) return Some(s"not a select answer: ${str(got)}")
      val keys = got.fieldNames().asScala.toSet
      if (keys != want.keySet)
        return Some(s"series differ: missing ${(want.keySet -- keys).take(3)}, extra ${(keys -- want.keySet).take(3)}")
      want.iterator.map { case (name, pts) =>
        val arr = got.get(name)
        if (arr.size() != pts.size) Some(s"$name: ${arr.size()} points, expected ${pts.size}")
        else pts.indices.iterator.map { i =>
          val pt = arr.get(i)
          val (t, v) = pts(i)
          val gv = pt.get(1)
          if (pt.get(0).asLong() != t) Some(s"$name[$i]: ts ${pt.get(0)} != $t")
          else if (e.p.isInt && !gv.isIntegralNumber) Some(s"$name[$i]: $gv is not an integer")
          else if (!e.p.isInt && !gv.isFloatingPointNumber) Some(s"$name[$i]: $gv is not a float")
          else if (!close(gv.asDouble(), v)) Some(s"$name[$i]@$t: $gv != $v")
          else None
        }.collectFirst { case Some(m) => m }
      }.collectFirst { case Some(m) => m }
    case e: TableAnswer =>
      if (got == null || got.get("columns") == null || got.get("rows") == null)
        return Some(s"not a table answer: ${str(got)}")
      val cols = got.get("columns").asScala.map(_.asText()).toSeq
      val rows = got.get("rows").asScala.map(_.asScala.map(_.asText()).toSeq).toSeq
      if (cols != e.columns) Some(s"columns $cols != ${e.columns}")
      else if (rows.size != e.rows.size || rows.toSet != e.rows)
        Some(s"rows differ: ${rows.size} rows, expected ${e.rows.size}")
      else None
  }

  private def str(n: JsonNode): String = String.valueOf(n).take(200)
}
