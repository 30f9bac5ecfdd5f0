package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import graft.streaming.EsTransport

/** Stands in for the Elasticsearch server behind `EsBulkUpsertSink`:
  * applies each `_bulk` body to an in-memory index with ES-7 semantics
  * (`update` + `doc_as_upsert` merges the partial document into the
  * stored one; `delete` removes the whole document) and counts what it
  * was sent. The transport is shipped inside Spark tasks, so it carries
  * only the name of its index set; the state lives in this JVM. */
final class EsStandIn(val key: String) extends EsTransport {
  override def post(path: String, body: String): String = {
    val t0 = System.nanoTime()
    EsStandIn.state(key).apply(body)
    EsStandIn.state(key).transportNs.addAndGet(System.nanoTime() - t0)
    """{"took":1,"errors":false,"items":[]}"""
  }
}

object EsStandIn {
  final class Indexes {
    /** index → doc id → field → value */
    val docs = TrieMap.empty[String, TrieMap[String, Map[String, JsonNode]]]
    val bulks = new AtomicLong
    val bytes = new AtomicLong
    val actions = new AtomicLong
    /** Update actions whose merge changed the stored document. */
    val useful = new AtomicLong
    val transportNs = new AtomicLong

    def index(name: String) = docs.getOrElseUpdate(name, TrieMap.empty)

    def apply(body: String): Unit = {
      bulks.incrementAndGet()
      bytes.addAndGet(body.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
      val lines = body.split('\n').iterator.filter(_.nonEmpty)
      while (lines.hasNext) {
        val action = Json.parse(lines.next())
        actions.incrementAndGet()
        if (action.has("update")) {
          val meta = action.get("update")
          val idx = index(meta.get("_index").asText())
          val id = meta.get("_id").asText()
          val doc = Json.parse(lines.next()).get("doc")
          val fields = doc.fields().asScala.map(e => e.getKey -> e.getValue).toMap
          idx.synchronized {
            val old = idx.getOrElse(id, Map.empty)
            val merged = old ++ fields
            if (merged != old || !idx.contains(id)) useful.incrementAndGet()
            idx.put(id, merged)
          }
        } else if (action.has("delete")) {
          val meta = action.get("delete")
          val idx = index(meta.get("_index").asText())
          idx.synchronized {
            if (idx.remove(meta.get("_id").asText()).nonEmpty)
              useful.incrementAndGet()
          }
        } else throw new java.io.IOException(s"unsupported bulk action: $action")
      }
    }
  }

  private val states = TrieMap.empty[String, Indexes]
  def state(key: String): Indexes = states.getOrElseUpdate(key, new Indexes)
  def drop(key: String): Unit = states.remove(key)
}
