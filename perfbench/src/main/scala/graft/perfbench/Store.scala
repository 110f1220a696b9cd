package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Reads the artifact store from outside: which groups are committed,
  * how many bytes and files it holds, and the content of each group. The
  * layout is `<root>/<fixture>-<fingerprint>/<group>/`, and a group is
  * committed once its `_GRAFT_OK` marker exists. */
object Store {
  private def walk(p: Path): Vector[Path] =
    if (!Files.exists(p)) Vector.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector finally s.close()
    }

  def clear(root: Path): Unit = {
    walk(root).filter(_ != root).sortBy(-_.getNameCount)
      .foreach(Files.deleteIfExists)
    Files.createDirectories(root)
  }

  /** Committed groups: (group name, directory, marker mtime). */
  def committed(root: Path): Seq[(String, Path, Long)] =
    walk(root).filter(_.getFileName.toString == "_GRAFT_OK").map { m =>
      val dir = m.getParent
      (dir.getFileName.toString, dir, Files.getLastModifiedTime(m).toMillis)
    }.sortBy(_._1)

  /** (data files, bytes) under `root`, hidden checksum files excluded. */
  def size(root: Path): (Long, Long) = {
    val files = walk(root).filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith("."))
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** Content fingerprint of every committed group: the sum of the
    * fingerprints of each directory under it that holds parquet files. */
  def fingerprints(spark: SparkSession, root: Path): Map[String, Fingerprint] = {
    val leaves = committed(root).flatMap { case (g, dir, _) =>
      walk(dir).filter(p => Files.isDirectory(p) && Files.list(p).iterator()
        .asScala.exists(_.getFileName.toString.endsWith(".parquet")))
        .map(g -> _)
    }
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fps = Await.result(Future.sequence(leaves.map { case (g, leaf) =>
        Future(g -> Fingerprint.of(spark.read.parquet(leaf.toString)))
      }), Duration.Inf)
      fps.groupMapReduce(_._1)(_._2)((a, b) =>
        Fingerprint(a.rows + b.rows, a.hash + b.hash))
    } finally pool.shutdown()
  }
}
