package graft.enrich

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Integration spec for the production HTTP client against an in-process
  * OpenAI-shaped mock server (JDK HttpServer — no network egress). The
  * mock implements the SAME deterministic transforms as StubLlmClient, so
  * the full ServiceEnrichment pipeline is differentially compared between
  * the real client (through HTTP) and the stub (in-process).
  */
class HttpLlmClientSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private def md5hex8(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString.take(8)
  }

  // ---- mock server: one route, dispatch on the model field ------------
  private var server: HttpServer = _
  private var baseUrl: String = _
  private val flakyCount = new AtomicInteger(0)
  /** every request body + auth header, for parity pins */
  private val seen = mutable.ArrayBuffer[(String, JsonNode)]()

  private def reply(ex: HttpExchange, status: Int, content: String): Unit = {
    val body =
      if (status == 429) """{"error": "rate limited"}"""
      else mapper.writeValueAsString {
        val root = mapper.createObjectNode()
        val msgNode = mapper.createObjectNode()
        msgNode.set[JsonNode]("message",
          mapper.createObjectNode().put("content", content))
        root.set[JsonNode]("choices", mapper.createArrayNode().add(msgNode))
        root
      }
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def startServer(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/chat/completions", (ex: HttpExchange) => {
      val node = mapper.readTree(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      seen.synchronized {
        seen += ((ex.getRequestHeaders.getFirst("Authorization"), node))
      }
      val messages = node.path("messages")
      node.path("model").asText() match {
        case "m-vision" =>
          val url = messages.path(0).path("content").path(1)
            .path("image_url").path("url").asText()
          reply(ex, 200, "OCR-" + md5hex8(url))
        case "m-brand" =>
          val prompt = messages.path(1).path("content").asText()
          prompt match {
            case "missing-keys" => reply(ex, 200, "{}")
            case "bad-json" => reply(ex, 200, "this is not json")
            case p =>
              val resp = mapper.createObjectNode()
              resp.set[JsonNode]("english_samples",
                mapper.createArrayNode().add(p.toUpperCase).add(p.toLowerCase))
              resp.set[JsonNode]("russian_samples",
                mapper.createArrayNode().add(p + "-ру"))
              reply(ex, 200, mapper.writeValueAsString(resp))
          }
        case "m-correct" =>
          val row = messages.path(1).path("content").asText()
          val rowNode = mapper.readTree(row).path("row")
          val resp = mapper.createObjectNode()
          resp.set[JsonNode]("corrected_row", rowNode)
          reply(ex, 200, mapper.writeValueAsString(resp))
        case "m-correct-bad" =>
          reply(ex, 200, """{"nothing": 1}""")
        case "m-flaky" =>
          if (flakyCount.incrementAndGet() <= 2) reply(ex, 429, "")
          else reply(ex, 200, "recovered")
        case m => reply(ex, 500, s"unknown model $m")
      }
    })
    server.start()
    baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  private def client(image: String = "m-vision", brand: String = "m-brand",
      correct: String = "m-correct") =
    new HttpLlmClient(baseUrl, "test-key", image, brand, correct)

  startServer()

  test("recognizeImage: image_url message shape, auth header, content passthrough") {
    val c = client()
    val payload = "data:image/png;base64,QUJD"
    assert(c.recognizeImage(payload).contains("OCR-" + md5hex8(payload)))
    assert(c.recognizeImage("").isEmpty) // no HTTP call for empty payloads
    val (auth, req) = seen.synchronized(seen.last)
    assert(auth == "Bearer test-key")
    assert(req.path("temperature").asDouble() == 0.1)
    assert(req.path("max_tokens").asInt() == 64)
    assert(!req.has("response_format"))
    assert(req.path("messages").path(0).path("content").path(0).path("type").asText() == "text")
  }

  test("brandSamples: sanitized prompt, json_object format, tolerant parsing") {
    val c = client()
    // digits stripped, whitespace collapsed, punct-only tokens dropped —
    // the server echoes what it received, proving sanitization ran
    assert(c.brandSamples("Acme  2000 :: Widgets") ==
      (Seq("ACME WIDGETS", "acme widgets"), Seq("Acme Widgets-ру")))
    val (_, req) = seen.synchronized(seen.last)
    assert(req.path("temperature").asDouble() == 0.3)
    assert(req.path("max_tokens").asInt() == 256)
    assert(req.path("response_format").path("type").asText() == "json_object")
    // degraded answers are empty lists, never errors
    assert(c.brandSamples("missing-keys") == (Nil, Nil))
    assert(c.brandSamples("bad-json") == (Nil, Nil))
  }

  test("correctRow: row wrapper roundtrip; missing corrected_row throws") {
    val c = client()
    val row = Map("Рег. №" -> "0001/ТЗ", "Бренд" -> "Acme", "x" -> "")
    assert(c.correctRow(row).contains(row))
    val (_, req) = seen.synchronized(seen.last)
    assert(req.path("temperature").asDouble() == 0.2)
    assert(req.path("max_tokens").asInt() == 384)
    val sentRow = mapper.readTree(
      req.path("messages").path(1).path("content").asText()).path("row")
    assert(sentRow.path("Бренд").asText() == "Acme")
    intercept[IllegalStateException](client(correct = "m-correct-bad").correctRow(row))
  }

  test("retry composition: 429s are transient and retried with the reference policy") {
    flakyCount.set(0)
    val slept = mutable.ArrayBuffer[Long]()
    val c = new RetryingLlmClient(client(image = "m-flaky"), sleep = slept += _)
    assert(c.recognizeImage("payload").contains("recovered"))
    assert(flakyCount.get() == 3)        // 2 × 429 then success
    assert(slept.toSeq == Seq(2000L, 4000L)) // 2s initial, ×2 backoff
  }

  test("ServiceEnrichment through HTTP == ServiceEnrichment through the stub (differential)") {
    import spark.implicits._
    // digit-free brands so the HTTP path's prompt sanitization (a
    // reference behavior the stub path doesn't need) is the identity
    val fixture = Seq(
      (1L, "plain row", "Acme", ""),                 // brand present
      (2L, "исключен entry", "Zenith", ""),          // excluded row
      (3L, "no brand no image", "", ""),             // nothing to enrich
      (4L, "trims", "  Widget  ", ""))               // whitespace brand
      .toDF("doc_id", "text", "brand", "image")
    def run(c: LlmClient) =
      ServiceEnrichment.process(fixture, "brand", "image", c, correction = true)
        .orderBy(col("doc_id").cast("long")).collect().toSeq
    assert(run(client()) == run(new StubLlmClient))
  }

  test("ServiceEnrichment OCR flow end-to-end through HTTP") {
    import spark.implicits._
    val img = "data:image/png;base64,QUJDREVG"
    val fixture = Seq((1L, "text", "", img)).toDF("doc_id", "text", "brand", "image")
    val out = ServiceEnrichment.process(fixture, "brand", "image", client(),
        correction = true).collect()(0)
    val ocr = "OCR-" + md5hex8(img)
    assert(out.getAs[String]("brand") == ocr + " (RECOG)")
    // brand variants are generated from the sanitized tag-stripped prompt
    val sanitized = ocr.replaceAll("\\d+", "").replaceAll("\\s+", " ").trim
    assert(out.getAs[String](Enrichment.EnglishCol) ==
      s"${sanitized.toUpperCase}, ${sanitized.toLowerCase}")
  }
}
