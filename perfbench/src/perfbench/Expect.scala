package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Expected answers, computed from the generator's closed form without Spark,
 * and the checks that compare a response against them. A check returns None
 * when the response is right and a one-line reason when it is not.
 */
object Expect {
  type Dps = Map[Long, Double]

  /** Relative tolerance for doubles whose summation order the engine picks
    * (cross-series folds, rates); integer-valued sums compare exactly
    * within it too. */
  val Tol = 1e-9

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= Tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def parseDownsample(spec: String): (Long, String) = {
    val i = spec.indexOf('-')
    val (n, unit) = spec.substring(0, i).span(_.isDigit)
    val mul = unit match { case "s" => 1000L; case "m" => 60000L; case "h" => 3600000L; case "d" => 86400000L }
    (n.toLong * mul, spec.substring(i + 1))
  }

  def tagMatches(s: Series, tags: Map[String, String]): Boolean = tags.forall { case (k, v) =>
    s.tags.get(k).exists(tv => if (v == "*") true else if (v.matches("^\\w+$")) tv == v else tv.matches(v))
  }

  /** The sorted left fold the engine uses for derived doubles. */
  def fold(xs: Seq[Double]): Double = xs.sorted.foldLeft(0.0)(_ + _)

  private def agg(name: String, xs: Seq[Double], exact: Boolean): Double = name match {
    case "sum" => if (exact) xs.sum else fold(xs)
    case "avg" => (if (exact) xs.sum else fold(xs)) / xs.length
    case "max" => xs.max
    case "min" => xs.min
    case "count" => xs.length.toDouble
  }

  /** Expected `/api/query` answer for a caller: group tags -> dps (response
    * seconds -> value), with each group's aggregated tag keys. Only stored
    * steps (k < u.steps) are considered. */
  def query(u: Universe, q: PanelQuery, auths: Seq[String]): Map[Map[String, String], (Seq[String], Dps)] = {
    val (period, dsAgg) = parseDownsample(q.downsample)
    val aligned = q.start - q.start % period
    val kLo = math.max(0L, math.ceil((q.start - u.t0).toDouble / u.stepMs).toLong).toInt
    val kHi = math.min(u.steps - 1L, math.floorDiv(q.end - u.t0, u.stepMs)).toInt
    val matched = u.byMetric(q.metric).filter(s => Users.visible(s, auths) && tagMatches(s, q.tags))
    // per series: bucket -> downsampled value
    val perSeries: Seq[(Series, Map[Long, Double])] = matched.map { s =>
      val pts: Seq[(Long, Double)] =
        if (!q.rate) (kLo to kHi).map(k => u.ts(k) -> u.value(s, k))
        else (kLo + 1 to kHi).map { k =>
          u.ts(k) -> (u.value(s, k) - u.value(s, k - 1)) / (u.ts(k) - u.ts(k - 1)).toDouble * period.toDouble
        }
      s -> pts.groupBy { case (t, _) => t - (t - aligned) % period }
        .map { case (b, vs) => b -> agg(dsAgg, vs.map(_._2), exact = !q.rate) }
    }.filter(_._2.nonEmpty)
    if (q.aggregator == "none")
      perSeries.map { case (s, b) => s.tags -> ((Seq.empty[String], b.map { case (t, v) => (t / 1000) -> v })) }.toMap
    else {
      val keys = q.tags.keys.toSeq.sorted
      perSeries.groupBy { case (s, _) => keys.map(k => k -> s.tags(k)).toMap }.map { case (g, members) =>
        val aggTags = members.flatMap(_._1.tags.keys).distinct.filterNot(keys.contains).sorted
        val buckets = members.flatMap(_._2.toSeq).groupBy(_._1).map { case (b, vs) =>
          (b / 1000) -> agg(q.aggregator, vs.map(_._2), exact = false)
        }
        g -> ((aggTags, buckets))
      }
    }
  }

  final case class Obj(metric: String, tags: Map[String, String], aggTags: Seq[String], dps: Dps)

  def parseQueryResponse(body: String): Seq[Obj] = JsonMethods.parse(body) match {
    case JArray(objs) => objs.map { o =>
      Obj(
        (o \ "metric") match { case JString(s) => s; case other => sys.error(s"metric: $other") },
        (o \ "tags") match { case JObject(fs) => fs.map { case (k, JString(v)) => k -> v; case f => sys.error(s"tag $f") }.toMap; case _ => Map.empty },
        (o \ "aggregatedTags") match { case JArray(ts) => ts.collect { case JString(s) => s }; case _ => Nil },
        (o \ "dps") match {
          case JObject(fs) => fs.map { case (k, v) => k.toLong -> (v match {
            case JDouble(d) => d; case JInt(i) => i.toDouble; case JLong(l) => l.toDouble
            case JDecimal(d) => d.toDouble; case other => sys.error(s"dp $other") }) }.toMap
          case _ => Map.empty
        })
    }
    case other => sys.error(s"not an array: ${other.getClass.getSimpleName}")
  }

  /** A response object that shows a series label the caller does not hold. */
  def leak(o: Obj, auths: Seq[String]): Option[String] =
    o.tags.get("tier").filterNot(t => t == "pub" || auths.contains(t)).map(t => s"viz leak: tier=$t shown to ${auths.mkString("|")}")

  def checkQuery(u: Universe, q: PanelQuery, auths: Seq[String], body: String): Option[String] = {
    val got = try parseQueryResponse(body) catch { case e: Exception => return Some(s"unparseable: $e") }
    got.iterator.flatMap(leak(_, auths)).nextOption().orElse {
      val want = query(u, q, auths)
      val gotMap = got.map(o => o.tags -> o).toMap
      if (gotMap.size != got.length) Some("a series object appears twice")
      else if (got.exists(_.metric != q.metric)) Some("wrong metric")
      else if (gotMap.keySet != want.keySet)
        Some(s"groups differ: got ${gotMap.keySet.size}, want ${want.keySet.size}")
      else want.iterator.flatMap { case (g, (aggTags, dps)) =>
        val o = gotMap(g)
        if (o.aggTags != aggTags) Some(s"aggregatedTags ${o.aggTags} != $aggTags for $g")
        else if (o.dps.keySet != dps.keySet) Some(s"timestamps differ for $g: got ${o.dps.size}, want ${dps.size}")
        else dps.collectFirst { case (t, v) if !close(o.dps(t), v) => s"value at $t for $g: got ${o.dps(t)}, want $v" }
      }.nextOption()
    }
  }

  /** Ingest reader check: every returned point carries the closed-form
    * value, every stored base point in the window is present, and no series
    * the caller may not see appears. Backlog points may still be missing. */
  def checkTail(u: Universe, q: PanelQuery, auths: Seq[String], body: String): Option[String] = {
    val got = try parseQueryResponse(body) catch { case e: Exception => return Some(s"unparseable: $e") }
    got.iterator.flatMap(leak(_, auths)).nextOption().orElse {
      val bySeries = u.byMetric(q.metric).map(s => s.tags -> s).toMap
      val want = u.byMetric(q.metric).filter(s => Users.visible(s, auths) && tagMatches(s, q.tags))
      val kLo = math.ceil((q.start - u.t0).toDouble / u.stepMs).toInt
      got.iterator.flatMap { o =>
        bySeries.get(o.tags) match {
          case None => Some(s"unknown series ${o.tags}")
          case Some(s) if !want.contains(s) => Some(s"series not asked for: ${o.tags}")
          case Some(s) => o.dps.collectFirst {
            case (t, v) if (t * 1000 - u.t0) % u.stepMs != 0 => s"off-grid timestamp $t"
            case (t, v) if !close(v, u.value(s, ((t * 1000 - u.t0) / u.stepMs).toInt)) => s"value at $t for ${o.tags}: $v"
          }
        }
      }.nextOption().orElse {
        val gotTags = got.map(_.tags).toSet
        want.collectFirst {
          case s if !gotTags(s.tags) => s"missing series ${s.tags}"
          case s if (kLo until u.steps).exists(k => !got.find(_.tags == s.tags).get.dps.contains(u.ts(k) / 1000)) =>
            s"missing base points for ${s.tags}"
        }
      }
    }
  }

  /** Meta catalog rows (metric, tagk, tagv), as the store's meta holds them. */
  def catalog(u: Universe): Seq[(String, String, String)] =
    u.series.flatMap(s => s.tags.map { case (k, v) => (s.metric, k, v) }).distinct

  def checkSuggest(u: Universe, r: Suggest, body: String): Option[String] = {
    val want = r.kind match {
      case "metrics" => u.metrics.filter(_.contains(r.q)).sorted.take(r.max)
      case "tagk" => catalog(u).filter(_._1 == r.q).map(_._2).distinct.sorted.take(r.max)
    }
    val got = try JsonMethods.parse(body) match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case other => return Some(s"not an array: $other")
    } catch { case e: Exception => return Some(s"unparseable: $e") }
    if (got == want) None else Some(s"suggest ${r.kind} ${r.q}: got $got, want $want")
  }

  def checkLookup(u: Universe, r: Lookup, body: String): Option[String] = {
    val matches = catalog(u).filter { case (m, k, v) => m == r.metric && k == r.tagk && v.matches(r.pattern) }
      .map { case (_, k, v) => (k, v) }.sorted
    val jv = try JsonMethods.parse(body) catch { case e: Exception => return Some(s"unparseable: $e") }
    val total = jv \ "totalResults" match { case JInt(i) => i.toLong; case JLong(l) => l; case _ => -1L }
    val results = jv \ "results" match {
      case JArray(xs) => xs.map(x => x \ "tags" match {
        case JObject(List((k, JString(v)))) => (k, v); case other => ("?", other.toString)
      })
      case _ => Nil
    }
    if (total != matches.length) Some(s"lookup ${r.query}: total $total, want ${matches.length}")
    else if (results != matches.take(r.limit)) Some(s"lookup ${r.query}: results differ")
    else None
  }

  def check(u: Universe, r: Request, auths: Seq[String], body: String): Option[String] = r match {
    case q: PanelQuery => checkQuery(u, q, auths, body)
    case s: Suggest => checkSuggest(u, s, body)
    case l: Lookup => checkLookup(u, l, body)
  }
}
