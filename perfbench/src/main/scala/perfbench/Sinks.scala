package perfbench

import graft.sources.Sinks
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** Transport-boundary counters, one set per group of writers. The
  * writers below run inside tasks, which in local mode share this JVM, so
  * plain atomics see every call. */
object SinkStats {
  final class Counters {
    val nanos, lines, bytes = new AtomicLong
    def snapshot: Map[String, Long] =
      Map("write_ns" -> nanos.get, "lines" -> lines.get, "bytes" -> bytes.get)
    private[perfbench] def add(ns: Long, n: Long, file: java.nio.file.Path): Unit = {
      nanos.addAndGet(ns); lines.addAndGet(n)
      bytes.addAndGet(if (Files.exists(file)) Files.size(file) else 0L)
    }
  }
  private val groups = new ConcurrentHashMap[String, Counters]()
  def apply(group: String): Counters = groups.computeIfAbsent(group, _ => new Counters)
  def total: Map[String, Long] = groups.values.asScala.map(_.snapshot)
    .foldLeft(Map.empty[String, Long].withDefaultValue(0L)) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a(k) + v) }
    }
}

/** FileIndexWriter with its time, lines and bytes counted. */
final class CountingIndexWriter(dir: String, group: String) extends Sinks.IndexWriter {
  private val inner = new Sinks.FileIndexWriter(dir)
  def writeBulk(batchId: Long, partitionId: Int, lines: Iterator[String]): Unit = {
    val t = System.nanoTime()
    var n = 0L
    // each bulk record is an action line and a document line
    inner.writeBulk(batchId, partitionId, lines.map { l => n += 2; l })
    SinkStats(group).add(System.nanoTime() - t, n,
      Paths.get(dir, s"bulk-$batchId-$partitionId.jsonl"))
  }
}

/** FileTableWriter with its time, lines and bytes counted. */
final class CountingTableWriter(dir: String, group: String) extends Sinks.TableWriter {
  private val inner = new Sinks.FileTableWriter(dir)
  def writeRows(table: String, partitionId: Int, rows: Iterator[Row]): Unit = {
    val t = System.nanoTime()
    var n = 0L
    inner.writeRows(table, partitionId, rows.map { r => n += 1; r })
    SinkStats(group).add(System.nanoTime() - t, n,
      Paths.get(dir, s"$table-$partitionId.csv"))
  }
}
