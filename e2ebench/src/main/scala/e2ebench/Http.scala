package e2ebench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._

/** Minimal HTTP client for the program's server on localhost. */
object Http {
  final case class Resp(code: Int, body: String) {
    lazy val json: JsonNode = mapper.readTree(body)
    /** The `rows` array of a query response. */
    def rows: Seq[JsonNode] = json.get("rows").elements().asScala.toSeq
    /** The server-side time the response reports, if any. */
    def serverMs: Option[Double] =
      if (code == 200 && body.startsWith("{\"time_ms\"")) Some(json.get("time_ms").asDouble)
      else None
  }

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .executor(java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, "e2ebench-http"); t.setDaemon(true); t
    }))
    .build()

  private def send(req: HttpRequest): Resp = {
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    Resp(r.statusCode, r.body)
  }

  def get(port: Int, pathAndQuery: String): Resp =
    send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery")).GET().build())

  def post(port: Int, path: String, body: String): Resp =
    send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
}
