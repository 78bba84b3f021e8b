package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.streaming.{BulkDoc, BulkEndpoint}

/** The bench's document store behind [[graft.streaming.BulkUpsertSink]]:
  * the stand-in for the reference's Elasticsearch index. It applies the
  * sink's `external_gte` contract (an action wins iff its version is at
  * least the stored one), stamps each id's first arrival and keeps the
  * latest arrival of any document, so freshness and catch-up time are
  * measured where a reader of the index would see them.
  *
  * Local-mode executors share the driver JVM, so tasks reach the one
  * store through this object. */
object DocStore {
  final case class Doc(version: Long, json: String, firstNs: Long)

  val docs = new ConcurrentHashMap[String, Doc]
  val bulkCalls = new AtomicLong
  val actions = new AtomicLong
  @volatile var lastArrivalNs = 0L

  def reset(): Unit = {
    docs.clear(); bulkCalls.set(0); actions.set(0); lastArrivalNs = 0L
  }

  def apply(batch: Seq[BulkDoc]): Unit = {
    val now = System.nanoTime()
    bulkCalls.incrementAndGet()
    actions.addAndGet(batch.size.toLong)
    batch.foreach { d =>
      docs.compute(d.id, (_, old) =>
        if (old == null) Doc(d.version, d.json, now)
        else if (d.version >= old.version) old.copy(version = d.version, json = d.json)
        else old)
    }
    synchronized { if (now > lastArrivalNs) lastArrivalNs = now }
  }

  /** id, winning version, first arrival (ns after `t0Ns`) and winning
    * document: one tab-separated line each. */
  def export(path: java.nio.file.Path, t0Ns: Long): Unit = {
    val lines = docs.asScala.toSeq.sortBy(_._1).map { case (id, d) =>
      s"$id\t${d.version}\t${d.firstNs - t0Ns}\t${d.json}"
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

class StoreEndpoint extends BulkEndpoint {
  override def bulk(partitionId: Int, docs: Iterator[BulkDoc]): Unit =
    DocStore.apply(docs.toSeq)
}
