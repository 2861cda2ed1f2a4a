package graft.enrich

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Production [[LlmClient]]: an OpenAI-compatible chat-completions HTTP
  * client (the protocol the reference speaks through the openai SDK,
  * utils/gpt.py:73-145), built on `java.net.http.HttpClient` — no extra
  * dependencies; JSON via the Jackson that ships with Spark.
  *
  * Call shapes port the reference exactly:
  *  - OCR (utils/gpt.py:148-177): one user message pairing an instruction
  *    text part with an `image_url` part (the data-URL payload),
  *    temperature 0.1, max_tokens 64 — raw content is the answer;
  *  - brand samples (utils/gpt.py:274-341): system schema prompt + user
  *    prompt sanitized the reference's way (digits stripped, whitespace
  *    collapsed, punctuation-only tokens dropped, 2000-char truncation —
  *    the same chain as TextOps.sanitizePrompt), temperature 0.3,
  *    max_tokens 256, `response_format={"type":"json_object"}`; missing
  *    keys or unparseable JSON degrade to empty lists, NOT an error
  *    (gpt.py:337-341);
  *  - row correction (utils/gpt.py:344-381): system schema prompt + the
  *    row as `{"row": {...}}`, temperature 0.2, max_tokens 384,
  *    json_object; an unparseable answer THROWS — the caller
  *    (ServiceEnrichment) catches and keeps the original row, the
  *    reference's fallback contract.
  *
  * Error classification mirrors call_openai: EVERY failed attempt —
  * 429 rate limit, 401 auth (the reference retries after key rotation),
  * 5xx, other API errors — is transient and retried by composing with
  * [[RetryingLlmClient]] (same ≤5 × 2s × 2.0 policy); this class itself
  * performs single attempts so the retry policy stays in one place.
  *
  * Executor contract: instantiated once per partition (ServiceEnrichment),
  * so the underlying connection pool is reused across a partition's rows;
  * `@transient lazy` keeps the task-serialized closure free of the
  * non-serializable JDK client.
  */
class HttpLlmClient(
    baseUrl: String,
    apiKey: String,
    imageModel: String = "vision-default",
    brandModel: String = "brand-default",
    correctModel: String = "correct-default",
    requestTimeout: Duration = Duration.ofSeconds(60)) extends LlmClient {

  @transient private lazy val http: HttpClient =
    HttpClient.newBuilder().connectTimeout(requestTimeout).build()
  @transient private lazy val mapper = new ObjectMapper()

  private def post(body: ObjectNode): JsonNode = {
    val req = HttpRequest.newBuilder()
      .uri(URI.create(baseUrl.stripSuffix("/") + "/chat/completions"))
      .timeout(requestTimeout)
      .header("Content-Type", "application/json")
      .header("Authorization", s"Bearer $apiKey")
      .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(body)))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new RetryingLlmClient.TransientServiceError(
        s"HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
    mapper.readTree(resp.body())
  }

  private def chat(
      model: String, messages: ArrayNode, temperature: Double,
      maxTokens: Int, jsonObject: Boolean): String = {
    val body = mapper.createObjectNode()
    body.put("model", model)
    body.set[ObjectNode]("messages", messages)
    body.put("temperature", temperature)
    body.put("max_tokens", maxTokens)
    if (jsonObject)
      body.set[ObjectNode]("response_format",
        mapper.createObjectNode().put("type", "json_object"))
    val root = post(body)
    val content = root.path("choices").path(0).path("message").path("content")
    if (content.isMissingNode || content.isNull) "" else content.asText()
  }

  private def msg(role: String, content: String): ObjectNode = {
    val m = mapper.createObjectNode()
    m.put("role", role); m.put("content", content); m
  }

  override def recognizeImage(imagePayload: String): Option[String] = {
    if (imagePayload.isEmpty) return None
    val textPart = mapper.createObjectNode()
    textPart.put("type", "text")
    textPart.put("text",
      "You must return ONLY the text found in the image. " +
        "No descriptions, no explanations, no formatting. Just the raw text.")
    val imagePart = mapper.createObjectNode()
    imagePart.put("type", "image_url")
    imagePart.set[ObjectNode]("image_url",
      mapper.createObjectNode().put("url", imagePayload))
    val user = mapper.createObjectNode()
    user.put("role", "user")
    user.set[ObjectNode]("content",
      mapper.createArrayNode().add(textPart).add(imagePart))
    val content = chat(imageModel, mapper.createArrayNode().add(user),
      temperature = 0.1, maxTokens = 64, jsonObject = false)
    if (content.isEmpty) None else Some(content)
  }

  /** gen_brand_samples' pre-call sanitization (utils/gpt.py:286-302). */
  private[enrich] def sanitizePrompt(raw: String): String = {
    val noDigits = raw.replaceAll("\\d+", "")
    val collapsed = noDigits.replaceAll("\\s+", " ").trim
    val kept = collapsed.split(" ").iterator
      .filter(t => t.nonEmpty && !t.matches("[!\"#$%&'()*+,\\-./:;<=>?@\\[\\]^_`{|}~]+"))
      .mkString(" ")
    if (kept.length > 2000) kept.take(2000) + "..." else kept
  }

  override def brandSamples(prompt: String): (Seq[String], Seq[String]) = {
    val system = msg("system",
      "Analyze the input text for brand names and trademark-like terms. " +
        "Return multiple spelling variations per language (max 6 each). " +
        "Respond strictly as JSON: " +
        """{"english_samples": [...], "russian_samples": [...]} — """ +
        "no markdown fences, no extra text.")
    val user = msg("user", sanitizePrompt(prompt))
    val raw = chat(brandModel, mapper.createArrayNode().add(system).add(user),
      temperature = 0.3, maxTokens = 256, jsonObject = true)
    // Missing keys / bad JSON → empty lists, not an error (gpt.py:325-341).
    try {
      val node = mapper.readTree(raw)
      def list(key: String): Seq[String] = node.path(key) match {
        case a: ArrayNode => a.elements().asScala.map(_.asText()).toSeq
        case _ => Nil
      }
      (list("english_samples"), list("russian_samples"))
    } catch { case scala.util.control.NonFatal(_) => (Nil, Nil) }
  }

  override def correctRow(row: Map[String, String]): Option[Map[String, String]] = {
    val system = msg("system",
      "Correct the table row. Respond strictly in JSON format with the " +
        """key 'corrected_row': {"corrected_row": {"<column>": "<value>"}}""")
    val rowNode = mapper.createObjectNode()
    row.foreach { case (k, v) => rowNode.put(k, v) }
    val wrapper = mapper.createObjectNode()
    wrapper.set[ObjectNode]("row", rowNode)
    val user = msg("user", mapper.writeValueAsString(wrapper))
    val raw = chat(correctModel, mapper.createArrayNode().add(system).add(user),
      temperature = 0.2, maxTokens = 384, jsonObject = true)
    // Unlike brandSamples, an unparseable correction THROWS (the reference
    // lets model_validate_json raise, gpt.py:374) — the caller's catch
    // keeps the original row.
    val corrected = mapper.readTree(raw).path("corrected_row")
    if (!corrected.isObject)
      throw new IllegalStateException(s"no corrected_row in: ${raw.take(200)}")
    Some(corrected.properties().asScala
      .map(e => e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText()))
      .toMap)
  }
}
