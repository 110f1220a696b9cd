package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Minted output fingerprints, one `kind name rows hash` line each (tab
  * separated); kind is `query` or `artifact`. */
final class Golden(entries: Map[(String, String), (Long, String)]) {
  def check(kind: String, name: String, fp: Fingerprint): Boolean =
    entries.get((kind, name)).contains((fp.rows, fp.hex))

  def names(kind: String): Set[String] =
    entries.keySet.collect { case (k, n) if k == kind => n }
}

object Golden {
  def load(p: Path): Golden =
    new Golden(Files.readAllLines(p).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(k, n, rows, hash) = l.split('\t')
        (k, n) -> (rows.toLong, hash)
      }.toMap)

  def write(p: Path, lines: Seq[(String, String, Fingerprint)]): Unit =
    Files.write(p, (Seq("# kind\tname\trows\thash") ++ lines.sortBy(l => (l._1, l._2))
      .map { case (k, n, fp) => s"$k\t$n\t${fp.rows}\t${fp.hex}" }).asJava)
}
