package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.{DataFrame, Row}

/** Export adapters — the reference's webhook / record-RPC exporters
  * (connectors/export_adapters/builtin.py).
  *
  * The reference reads the whole output file on the driver and POSTs it
  * in one request. Here rows are exported FROM THE EXECUTORS with
  * `foreachPartition`, JSON-batched `batchSize` at a time — the shape
  * that survives a billion-row sink: no driver collect, bounded request
  * size, per-batch retry.
  */
object Export {

  /** Render rows as a JSON array using the schema (driverless, no
    * external JSON lib).
    *
    * Only booleans and finite numbers are emitted bare; NaN/Infinity
    * (not representable in JSON) become null; EVERYTHING else —
    * timestamps, dates, binary, arrays, structs — is emitted as an
    * escaped string, so a payload is always valid JSON no matter what
    * column types flow into a webhook node.
    */
  def rowsToJson(schema: Seq[String], rows: Seq[Row]): String = {
    def quote(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    rows.map { r =>
      schema.zipWithIndex.map { case (name, i) =>
        val v = r.get(i) match {
          case null => "null"
          case s: String => quote(s)
          case b: Boolean => b.toString
          case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
          case f: Float => if (f.isNaN || f.isInfinite) "null" else f.toString
          case n @ (_: Byte | _: Short | _: Int | _: Long |
                    _: java.math.BigDecimal | _: BigDecimal | _: BigInt) => n.toString
          case bytes: Array[Byte] =>
            quote(java.util.Base64.getEncoder.encodeToString(bytes))
          case other => quote(other.toString)
        }
        "\"" + name + "\":" + v
      }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
  }

  /** Transport abstraction so specs (and the Odoo-style RPC adapter)
    * can swap the wire protocol; the default posts JSON over HTTP.
    */
  trait Transport extends Serializable {
    /** Returns a status code; >=400 (or a throw) triggers retry. */
    def send(payload: String): Int
  }

  final case class HttpPost(url: String, headers: Map[String, String] = Map.empty)
      extends Transport {
    def send(payload: String): Int = {
      val b = HttpRequest.newBuilder(URI.create(url))
        .header("Content-Type", "application/json")
      headers.foreach { case (k, v) => b.header(k, v) }
      val req = b.POST(HttpRequest.BodyPublishers.ofString(payload)).build()
      HttpClient.newHttpClient()
        .send(req, HttpResponse.BodyHandlers.discarding()).statusCode()
    }
  }

  /** webhook_send / export node: executor-side batched JSON POST. */
  def webhook(
      df: DataFrame, transport: Transport,
      batchSize: Int = 500, maxRetries: Int = 3): Unit = {
    val schema = df.schema.fieldNames.toSeq
    df.foreachPartition { (it: Iterator[Row]) =>
      it.grouped(batchSize).foreach { batch =>
        val payload = rowsToJson(schema, batch)
        graft.plans.PipelineDag.withRetries(maxRetries) {
          val code = transport.send(payload)
          // 5xx is the server's transient failure (retried); 4xx is
          // this request's fault and fails at once
          if (code >= 500) throw new java.io.IOException(s"export transport returned $code")
          require(code < 400, s"export transport returned $code")
        }
      }
    }
  }

  // ---------------------------------------------------------------------
  // Record-RPC export — the reference's Odoo XML-RPC adapter surface
  // (connectors/export_adapters/builtin.py:45-108): authenticate once,
  // then one `execute_kw(db, uid, password, model, method, [record])`
  // call per record. Here auth happens once PER PARTITION and the
  // record calls run on the executors — no driver-side loop.
  // ---------------------------------------------------------------------

  /** RPC client abstraction (specs use a fake; [[XmlRpcClient]] speaks
    * real XML-RPC over HTTP).
    */
  trait RpcClient extends Serializable {
    /** Returns the authenticated uid, or None on failure. */
    def authenticate(db: String, username: String, password: String): Option[Long]
    /** One record call; returns the created/affected id. Throw to retry. */
    def executeKw(db: String, uid: Long, password: String,
                  model: String, method: String,
                  record: Seq[(String, Any)]): Long
  }

  /** Minimal XML-RPC-over-HTTP client matching the Odoo endpoint shape
    * (`/xmlrpc/2/common` authenticate, `/xmlrpc/2/object` execute_kw).
    * Scalar field types only — strings, integrals, doubles, booleans,
    * null — which is what a DataFrame row exports as.
    */
  final case class XmlRpcClient(baseUrl: String) extends RpcClient {
    private def esc(s: String): String = s.flatMap {
      case '<' => "&lt;"
      case '&' => "&amp;"
      case c => c.toString
    }
    private def xml(v: Any): String = v match {
      case null => "<nil/>"
      case s: String => "<string>" + esc(s) + "</string>"
      case b: Boolean => s"<boolean>${if (b) 1 else 0}</boolean>"
      case d: Double => s"<double>$d</double>"
      case f: Float => s"<double>${f.toDouble}</double>"
      case n @ (_: Byte | _: Short | _: Int) => s"<int>$n</int>"
      // XML-RPC <int> is 32-bit: a BIGINT column (DataFrame ids are
      // LongType) must go out as <i8>, the de-facto 64-bit extension
      // (accepted by Python's xmlrpc/Odoo; IntRe already parses it on
      // the response side) — a compliant server rejects an out-of-range
      // <int> at parse time.
      case l: Long => s"<i8>$l</i8>"
      case other => xml(other.toString)
    }

    private def call(path: String, methodName: String, params: Seq[String]): String = {
      val payload =
        s"""<?xml version="1.0"?><methodCall><methodName>$methodName</methodName><params>${
          params.map(p => s"<param><value>$p</value></param>").mkString
        }</params></methodCall>"""
      val req = HttpRequest.newBuilder(URI.create(s"$baseUrl$path"))
        .header("Content-Type", "text/xml")
        .POST(HttpRequest.BodyPublishers.ofString(payload)).build()
      val resp = HttpClient.newHttpClient()
        .send(req, HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() < 400, s"XML-RPC HTTP ${resp.statusCode()}")
      require(!resp.body().contains("<fault>"), s"XML-RPC fault: ${resp.body().take(500)}")
      resp.body()
    }

    private val IntRe = "<(?:int|i4|i8)>\\s*(-?\\d+)\\s*</(?:int|i4|i8)>".r

    def authenticate(db: String, username: String, password: String): Option[Long] =
      IntRe.findFirstMatchIn(
          call("/xmlrpc/2/common", "authenticate",
            Seq(xml(db), xml(username), xml(password), "<struct></struct>")))
        .map(_.group(1).toLong).filter(_ > 0)

    private val BoolRe = "<boolean>\\s*([01])\\s*</boolean>".r

    def executeKw(db: String, uid: Long, password: String,
                  model: String, method: String,
                  record: Seq[(String, Any)]): Long = {
      val struct = "<struct>" + record.map { case (k, v) =>
        s"<member><name>${esc(k)}</name><value>${xml(v)}</value></member>"
      }.mkString + "</struct>"
      val arr = s"<array><data><value>$struct</value></data></array>"
      val body = call("/xmlrpc/2/object", "execute_kw",
        Seq(xml(db), xml(uid), xml(password), xml(model), xml(method), arr))
      // create returns the new record id; write/unlink return a boolean
      // (→ 1/0). A non-fault response with neither would otherwise throw
      // INSIDE the retry wrapper and re-run an already-successful call.
      IntRe.findFirstMatchIn(body).map(_.group(1).toLong)
        .orElse(BoolRe.findFirstMatchIn(body).map(_.group(1).toLong))
        .getOrElse(throw new IllegalStateException(
          s"execute_kw returned no int/boolean result: ${body.take(200)}"))
    }
  }

  /** odoo_xmlrpc export node: per-partition auth handshake, then one
    * record call per row, all executor-side.
    *
    * `maxRetries` defaults to 1 — exactly one attempt per record, like
    * the reference adapter (export_adapters/builtin.py makes a single
    * `execute_kw` per record and collects errors). Retrying a mutating
    * `create` whose RESPONSE was lost after the server committed would
    * silently duplicate records. Callers that opt into `maxRetries > 1`
    * get at-least-once delivery and must make the target idempotent
    * (e.g. a unique key on an id column the server enforces).
    */
  def recordRpc(
      df: DataFrame, client: RpcClient,
      db: String, username: String, password: String,
      model: String, method: String = "create",
      maxRetries: Int = 1): Unit = {
    val schema = df.schema.fieldNames.toSeq
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val uid = client.authenticate(db, username, password)
          .getOrElse(throw new IllegalStateException("RPC authentication failed"))
        it.foreach { row =>
          val record = schema.zipWithIndex.map { case (n, i) => n -> row.get(i) }
          graft.plans.PipelineDag.withRetries(maxRetries) {
            client.executeKw(db, uid, password, model, method, record)
            ()
          }
        }
      }
    }
  }
}
