package graft.planner

import java.io.StringWriter

import org.apache.spark.sql.DataFrame

import graft.sources.Catalog
import graft.streaming.InternalMetrics

/** The whole answer of [[TimelyApi.query]], the one query entry, as a string. */
object QueryAnswer {
  def apply(
      points: DataFrame,
      req: QueryPlanner.TsQueryRequest,
      auths: Seq[String],
      catalog: Option[Catalog] = None,
      internal: Option[InternalMetrics] = None): String = {
    val out = new StringWriter()
    TimelyApi.query(points, req, auths, catalog, internal)(out)
    out.toString
  }
}
