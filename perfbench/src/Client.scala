package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One HTTP exchange as the client saw it. `rows` is the response's row
  * multiset in canonical form (keys sorted, rows sorted), so two responses
  * compare by equality and the checker can parse each row as JSON.
  */
final case class Resp(status: Int, doneOk: Boolean, rows: Vector[String],
    firstByteNs: Long, endNs: Long, bytes: Long, resultEvents: Int,
    error: String) {
  def ok: Boolean = status == 200 && doneOk
}

/** Blocking client for the SSE and JSON routes. The first-byte time is
  * the arrival of the first `result` event (or of `done` when there are
  * no rows); the end time is the last byte of the stream.
  */
final class Client(base: String, apiKey: String) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()

  def get(path: String, params: Seq[(String, String)], sse: Boolean): Resp = {
    val qs = params.map { case (k, v) =>
      java.net.URLEncoder.encode(k, UTF_8) + "=" + java.net.URLEncoder.encode(v, UTF_8)
    }.mkString("&")
    val req = HttpRequest.newBuilder(URI.create(s"$base$path?$qs"))
      .header("x-cardinalhq-api-key", apiKey).GET().build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofInputStream())
    val in = new BufferedReader(new InputStreamReader(resp.body(), UTF_8))
    try if (sse) readSse(resp.statusCode(), in) else readJson(resp.statusCode(), in)
    finally in.close()
  }

  private def readSse(status: Int, in: BufferedReader): Resp = {
    val rows = Vector.newBuilder[String]
    var first = 0L; var bytes = 0L; var events = 0
    var doneOk = false; var err = ""
    var line = in.readLine()
    while (line != null) {
      bytes += line.getBytes(UTF_8).length + 1
      if (line.startsWith("data: ")) {
        val ev = mapper.readTree(line.substring(6))
        val kind = ev.path("type").asText()
        if (first == 0L && (kind == "result" || kind == "done")) first = System.nanoTime()
        kind match {
          case "result" =>
            events += 1
            ev.path("data").path("rows").forEach(r => rows += Client.canon(r))
          case "done" =>
            doneOk = ev.path("data").path("status").asText() == "ok"
            if (!doneOk) err = ev.path("data").path("error").asText()
          case _ =>
        }
      } else if (status != 200 && line.nonEmpty) err = line.take(300)
      line = in.readLine()
    }
    val end = System.nanoTime()
    Resp(status, doneOk, rows.result().sorted, if (first == 0L) end else first,
      end, bytes, events, err)
  }

  private def readJson(status: Int, in: BufferedReader): Resp = {
    val body = in.lines().collect(java.util.stream.Collectors.joining("\n"))
    val end = System.nanoTime()
    val node = scala.util.Try(mapper.readTree(body)).toOption
    val ok = status == 200 && node.exists(_.path("status").asText() == "ok")
    val rows = Vector.newBuilder[String]
    node.foreach(_.path("results").forEach(r => rows += Client.canon(r)))
    Resp(status, ok, rows.result().sorted, end, end, body.getBytes(UTF_8).length,
      if (ok) 1 else 0, if (ok) "" else body.take(300))
  }
}

object Client {
  /** JSON with object keys sorted, so equal rows render equal */
  def canon(n: JsonNode): String =
    if (n.isObject) {
      val ks = scala.collection.mutable.ArrayBuffer[String]()
      n.fieldNames().forEachRemaining(k => ks += k)
      ks.sorted.map(k => Json.str(k) + ":" + canon(n.get(k))).mkString("{", ",", "}")
    } else if (n.isArray) {
      val xs = scala.collection.mutable.ArrayBuffer[String]()
      n.forEach(x => xs += canon(x))
      xs.mkString("[", ",", "]")
    } else n.toString
}
