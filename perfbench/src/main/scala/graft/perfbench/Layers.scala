package graft.perfbench

/** The per-layer list is BENCHMARK.json's `per_layer`, and every traced run
  * prints all of it. A workload reports the layers it calls; every other
  * layer's metrics read 0 on it (no call into that layer was made). */
object Layers {
  /** (name, unit) of every `per_layer` entry, in file order. */
  def load(benchmarkJson: java.nio.file.Path): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(benchmarkJson.toFile)
      .get("per_layer").elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
  }

  /** The full list, taking each value from `measured` and 0 for layers the
    * workload did not call. A measured name outside the list is a bug. */
  def complete(measured: Seq[Metric], all: Seq[(String, String)]): Seq[Metric] = {
    val known = all.toMap
    val bad = measured.filterNot(m => known.get(m.name).contains(m.unit))
    require(bad.isEmpty, s"per-layer metrics outside BENCHMARK.json: ${bad.mkString(", ")}")
    val got = measured.map(m => m.name -> m).toMap
    all.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
  }
}
