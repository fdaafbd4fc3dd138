package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The recorded expected outputs (`golden.json`), written by the `record`
  * mode at the commit that defined the benchmark.
  */
final case class Golden(
    accepted: Map[Long, Long],
    funnelReport: Seq[(String, Long, Long)],
    funnelSignatures: Digest.Value)

object Golden {
  /** No expected outputs: what `record` runs the workloads with. */
  val Empty: Golden = Golden(Map.empty, Nil, Digest.Value(0L, 0L))

  def load(path: String): Golden = {
    val f = new File(path)
    require(f.exists(), s"no golden outputs at $path")
    val j = new ObjectMapper().readTree(f)
    def digest(n: JsonNode) = Digest.Value(n.get("rows").asLong, n.get("hash").asLong)
    Golden(
      j.get("curation_service").get("accepted").elements().asScala
        .map(p => p.get(0).asLong -> p.get(1).asLong).toMap,
      j.get("corpus_batch").get("report").elements().asScala
        .map(r => (r.get(0).asText, r.get(1).asLong, r.get(2).asLong)).toSeq,
      digest(j.get("corpus_batch").get("signatures")))
  }
}
