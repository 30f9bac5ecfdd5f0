package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}

/** Pluggable HTTP layer for [[EsBulkUpsertSink]], so the bulk protocol is
  * testable without a live cluster (none ships in this environment): tests
  * install a recording fake; production uses [[HttpEsTransport]].
  * Serializable because the sink ships it INSIDE foreachPartition tasks —
  * each executor posts its own partition's bulks; document bytes never
  * visit the driver. */
trait EsTransport extends Serializable {
  /** POST an NDJSON `body` to `path` (e.g. "/_bulk") and return the
    * response body. Implementations throw on transport failure. */
  def post(path: String, body: String): String
}

/** Minimal JDK-only HTTP transport (round-robin over `hosts`, like the
  * reference's multi-host `'hosts'` option, flink-ddl.sql:107). */
final class HttpEsTransport(hosts: Seq[String]) extends EsTransport {
  require(hosts.nonEmpty, "at least one Elasticsearch host required")
  private val ConnectTimeoutMs = 5000
  private val ReadTimeoutMs = 30000
  private val next = new java.util.concurrent.atomic.AtomicInteger(0)

  override def post(path: String, body: String): String = {
    // floorMod, not abs(x) % n: abs(Int.MinValue) is negative, so the
    // counter wrapping after 2^31 posts would index out of bounds
    val host = hosts(Math.floorMod(next.getAndIncrement(), hosts.size))
    val url = new java.net.URI(host.stripSuffix("/") + path).toURL
    val conn = url.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setRequestProperty("Content-Type", "application/x-ndjson")
    conn.setConnectTimeout(ConnectTimeoutMs)
    conn.setReadTimeout(ReadTimeoutMs)
    conn.setDoOutput(true)
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    conn.setFixedLengthStreamingMode(bytes.length)
    val out = conn.getOutputStream
    try out.write(bytes) finally out.close()
    val code = conn.getResponseCode
    val stream =
      if (code >= 400) conn.getErrorStream else conn.getInputStream
    val resp =
      if (stream == null) ""
      else try new String(stream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally stream.close()
    if (code >= 400)
      throw new java.io.IOException(s"ES bulk HTTP $code: ${resp.take(500)}")
    resp
  }
}

/** Elasticsearch-7 REST bulk sink — the real client behind the
  * [[UpsertSink]] contract the reference's every result materializes
  * through (flink-ddl.sql:96-109, 158-166).
  *
  * Protocol (the public ES-7 bulk API):
  *  - upserts are `{"update":{"_index":i,"_id":id}}` actions with a
  *    `{"doc":{...},"doc_as_upsert":true}` payload — ES merges the partial
  *    document into the stored one, which IS the shared-index field-merge
  *    semantics of [[InMemoryUpsertSink]]/[[ParquetUpsertSink]] (several
  *    views writing different column sets of one document, the reference's
  *    shared `user_view` index, flink-ddl.sql:143,165). Fields the frame
  *    doesn't carry persist; nulls are omitted by `to_json`, so an
  *    explicit null also keeps the stored value (same contract as
  *    [[ParquetUpsertSink]]).
  *  - deletes are `{"delete":{"_index":i,"_id":id}}` actions.
  *
  * Scale shape: document JSON is rendered by the codegen'd `to_json`
  * EXPRESSION (dotted field names land verbatim — ES-7 maps them as
  * object paths, exactly what the reference's `order.amount` columns
  * expect); `foreachPartition` then streams (id, json) pairs into
  * size-bounded NDJSON bodies posted executor-side. Nothing collects; the
  * driver sees only success/failure. Bulk upserts are id-keyed and
  * value-idempotent, so a replayed micro-batch re-posting the same
  * documents converges — the same idempotence contract the pipeline's
  * state stores give ([[ParquetKeyedTable.merge]]).
  */
final class EsBulkUpsertSink(
    transport: EsTransport,
    maxBulkBytes: Int = 5 * 1024 * 1024,
    maxRetries: Int = 3) extends UpsertSink with Serializable {

  override def upsert(index: String, upserts: DataFrame): Unit = {
    val docCols = upserts.columns.filter(_ != "id")
    val pairs = upserts.select(
      col("id").cast("string").as("_id"),
      to_json(struct(docCols.map(c => col(s"`$c`")).toSeq: _*)).as("_doc"))
    post(index, pairs) { (idx, row) =>
      s"""{"update":{"_index":${EsBulkUpsertSink.jstr(idx)},"_id":${
        EsBulkUpsertSink.jstr(row.getString(0))}}}""" + "\n" +
        s"""{"doc":${row.getString(1)},"doc_as_upsert":true}"""
    }
  }

  override def delete(index: String, deletes: DataFrame): Unit =
    post(index, deletes.select(col("id").cast("string"))) { (idx, row) =>
      s"""{"delete":{"_index":${EsBulkUpsertSink.jstr(idx)},"_id":${
        EsBulkUpsertSink.jstr(row.getString(0))}}}"""
    }

  private def post(index: String, rows: DataFrame)(
      render: (String, org.apache.spark.sql.Row) => String): Unit = {
    val t = transport
    val limit = maxBulkBytes
    val retries = maxRetries
    rows.foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        val buf = new StringBuilder
        def flush(): Unit = if (buf.nonEmpty) {
          EsBulkUpsertSink.postWithRetry(t, buf.result(), retries)
          buf.clear()
        }
        it.foreach { row =>
          buf.append(render(index, row)).append('\n')
          if (buf.length >= limit) flush()
        }
        flush()
    }
  }
}

object EsBulkUpsertSink {
  /** Minimal JSON string literal (ids/index names; docs come pre-rendered
    * from `to_json`). */
  private[streaming] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** One bulk POST with bounded retry (transport failures and HTTP 429/5xx
    * throw from the transport); a response with `"errors":true` fails the
    * task — Spark's task retry then re-posts, which is safe because every
    * action is id-keyed and value-idempotent. */
  private[streaming] def postWithRetry(
      t: EsTransport, body: String, maxRetries: Int): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      try {
        val resp = t.post("/_bulk", body)
        if (resp.contains("\"errors\":true"))
          throw new java.io.IOException(
            s"ES bulk reported item errors: ${resp.take(500)}")
        done = true
      } catch {
        case e: java.io.IOException if attempt < maxRetries =>
          Thread.sleep(200L * attempt)
        case e: Throwable => throw e
      }
    }
  }
}
