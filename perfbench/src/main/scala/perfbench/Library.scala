package perfbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** The query library's recorded expectations (`data/queries.json`): for
  * each query, its result fingerprint at the timed scale and the function
  * families it calls.
  */
final case class Library(fingerprints: Map[String, Fingerprint],
                         families: Map[String, Seq[String]]) {
  def names: Seq[String] = fingerprints.keys.toSeq.sorted
}

object Library {
  private val mapper = new ObjectMapper()

  def load(file: Path): Library = {
    val root = mapper.readTree(file.toFile)
    val entries = root.fields().asScala.map(e => e.getKey -> e.getValue).toSeq
    Library(
      entries.map { case (n, v) =>
        val fp = v.get("fingerprint").elements().asScala.map(_.asLong).toSeq
        n -> Fingerprint(fp(0), fp(1), fp(2))
      }.toMap,
      entries.map { case (n, v) =>
        n -> QueryLibrary.families(n, v.get("functions").elements().asScala.map(_.asText).toSeq)
      }.toMap)
  }

  /** Rewrites each query's fingerprint in `file` with `run(name)`'s. */
  def record(file: Path, run: String => Fingerprint): Unit = {
    val root = mapper.readTree(file.toFile)
    root.fieldNames().asScala.toSeq.foreach { n =>
      val fp = run(n).toSeq
      val arr = root.get(n).asInstanceOf[ObjectNode].putArray("fingerprint")
      fp.foreach(v => arr.add(v))
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(file.toFile, root)
  }
}
