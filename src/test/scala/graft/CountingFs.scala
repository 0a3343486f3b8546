package graft

import java.net.URI
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local filesystem under the test-only scheme `countfs:`, recording
  * the destination of every rename. `StateStore` commits a table write by
  * renaming its tmp directory onto the table's directory, so the renames
  * onto a table directory count that table's writes, whether Spark or the
  * driver wrote the files. A test can also slow the renames into a
  * directory, which are how Spark's commit protocol completes a write
  * there, to make that write end last.
  */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def rename(src: Path, dst: Path): Boolean = {
    val to = dst.toUri.getPath
    CountingFs.renamedTo.add(to)
    CountingFs.slow.asScala.collectFirst {
      case (dir, ms) if to.startsWith(dir + "/") => ms
    }.foreach(ms => Thread.sleep(ms))
    super.rename(src, dst)
  }
}

object CountingFs {
  private val renamedTo = new ConcurrentLinkedQueue[String]()
  private val slow = new ConcurrentHashMap[String, java.lang.Long]()

  /** `dir` under the `countfs:` scheme, which this routes to [[CountingFs]]
    * on `spark`'s Hadoop configuration.
    */
  def root(spark: SparkSession, dir: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)
    s"countfs://$dir"
  }

  /** How many renames have had `dir` as their destination. */
  def renamesOnto(dir: String): Int = {
    val target = new Path(dir).toUri.getPath
    renamedTo.asScala.count(_ == target)
  }

  /** From now on, every rename to a path under `dir` first sleeps `ms`. */
  def slowRenamesInto(dir: String, ms: Long): Unit =
    slow.put(new Path(dir).toUri.getPath, ms)
}
