package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Output digests recorded from a known-good commit (`pins.json`):
  * `{"<workload>": {"<key>": "<digest>"}}`. A workload whose key has no
  * pin is checked by its other checks only. */
final class Pins(root: JsonNode) {
  private val seen = scala.collection.concurrent.TrieMap[(String, String), String]()

  /** The reason a digest fails its pin, if it has one and differs. */
  def mismatch(workload: String, key: String, digest: String): Option[String] = {
    seen((workload, key)) = digest
    Option(root.path(workload).get(key)).map(_.asText).filter(_ != digest)
      .map(p => s"digest $digest, pinned $p")
  }

  /** Every digest checked so far, in the layout of `pins.json`. */
  def seenJson: String =
    seen.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (w, kvs) =>
      Json.str(w) + ":" + kvs.sortBy(_._1._2)
        .map { case ((_, k), d) => Json.str(k) + ":" + Json.str(d) }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
}

object Pins {
  val mapper = new ObjectMapper()

  def load(path: Option[String]): Pins =
    new Pins(path.map(p => mapper.readTree(new java.io.File(p)))
      .getOrElse(mapper.createObjectNode()))
}
