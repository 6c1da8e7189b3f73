package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.algos.GraphAlgorithms
import graft.api.GraftSession
import graft.graph.PropertyGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import scala.jdk.CollectionConverters._

/** One generated request, as read from the requests file.
  *
  * `op` selects the layer entry point the request goes through:
  *   - cypher:    GraftSession.cypher(graph, q)
  *   - update:    GraftSession.update(graph, w), then cypher on the result
  *   - construct: GraftSession.cypherGraph(graph, w), then cypher on it
  *   - algo:      one graft.algos.GraphAlgorithms call, named by `algo`
  *   - pipeline:  one graft.pipeline.PipelineQueries operator row
  */
final case class Request(id: Long, template: String, op: String,
    q: String, w: String, algo: String, params: JsonNode) {
  def queries: Seq[String] = Seq(w, q).filter(_.nonEmpty)
  def int(name: String): Int = params.get(name).asInt()
  def strings(name: String): Seq[String] =
    params.get(name).elements().asScala.map(_.asText()).toSeq
}

object Request {
  def apply(n: JsonNode): Request = {
    def text(k: String) = Option(n.get(k)).map(_.asText()).getOrElse("")
    Request(n.get("id").asLong(), text("template"), text("op"), text("q"),
      text("w"), text("algo"), n.get("params"))
  }
}

/** Builds the DataFrame of a request. Every call into the engine goes
  * through a public function of the layer named by the request's op. */
final class Builder(spark: SparkSession, dataDir: String, graph: PropertyGraph) {
  val session: GraftSession = GraftSession(spark)

  def build(r: Request): DataFrame = r.op match {
    case "cypher" => session.cypher(graph, r.q)
    case "update" => session.cypher(session.update(graph, r.w), r.q)
    case "construct" => session.cypher(session.cypherGraph(graph, r.w), r.q)
    case "algo" => algo(r)
    case "pipeline" => graft.pipeline.PipelineQueries.queries(r.algo)(spark, dataDir)
    case other => throw new IllegalArgumentException(s"unknown op $other")
  }

  private def ids(label: String, keep: org.apache.spark.sql.Column): DataFrame =
    graph.nodeScansFor(Seq(label))
      .map(_.df.filter(keep).select(col(PropertyGraph.ID).as("id")))
      .reduce(_.unionByName(_))

  /** The co-order part-pair graph the registry's edge-frame algorithms
    * use, over the orders with `l_orderkey % mod = rem`. */
  private def partPairs(r: Request): DataFrame = {
    val lp = spark.read.parquet(s"$dataDir/lineitem.parquet")
      .filter(pmod(col("l_orderkey"), lit(r.int("mod").toLong)) === r.int("rem"))
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    lp.as("x").join(lp.as("y"), col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst"))
  }

  private val ssspWeights = Map("IN_REGION" -> 1.0, "FROM_NATION" -> 2.0, "PLACED" -> 3.0)

  private def algo(r: Request): DataFrame = r.algo match {
    case "pagerank" =>
      GraphAlgorithms.pageRank(graph, iterations = r.int("iterations"),
          relTypes = r.strings("rel_types"))
        .groupBy(round(col("rank"), 5).as("rank")).agg(count(lit(1)).as("n"))
    case "ppr" =>
      GraphAlgorithms.personalizedPageRank(graph,
          ids("Customer", col("p_c_custkey") < r.int("seed_below")),
          iterations = r.int("iterations"), relTypes = r.strings("rel_types"))
        .filter(col("rank") > 0)
        .groupBy(round(col("rank"), 5).as("rank")).agg(count(lit(1)).as("n"))
    case "sssp" =>
      GraphAlgorithms.sssp(graph,
          ids("Region", col("p_r_regionkey") === r.int("region")),
          ssspWeights.filter { case (t, _) => r.strings("rel_types").contains(t) })
        .groupBy(col("dist").cast(LongType).as("dist")).agg(count(lit(1)).as("n"))
    case "components" =>
      GraphAlgorithms.connectedComponents(graph, relTypes = r.strings("rel_types"))
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_components"))
    case "kcore" =>
      GraphAlgorithms.kCoreEdges(partPairs(r), k = r.int("k"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n"))
    case "labelprop" =>
      GraphAlgorithms.labelPropagation(graph, relTypes = r.strings("rel_types"),
          maxIterations = r.int("iterations"))
        .groupBy(col("label")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_communities"))
    case "toposort" =>
      GraphAlgorithms.topologicalLevels(graph, relTypes = r.strings("rel_types"))
        .groupBy(col("level").cast(LongType).as("level")).agg(count(lit(1)).as("n"))
    case "hits" =>
      GraphAlgorithms.hits(graph, relTypes = r.strings("rel_types"),
          iterations = r.int("iterations"))
        .groupBy(col("hub").cast(LongType).as("hub"), col("auth").cast(LongType).as("auth"))
        .agg(count(lit(1)).as("n"))
    case "louvain" =>
      GraphAlgorithms.louvain(partPairs(r), levels = 1, sweeps = r.int("sweeps"))
        .groupBy(col("community")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n"))
    case "triangles" =>
      GraphAlgorithms.triangleCountEdges(partPairs(r))
    case other => throw new IllegalArgumentException(s"unknown algorithm $other")
  }
}
