package graft.sources

/** Gateway response vocabulary — the reference's response package
  * (response/response.go:8-61 status-key constants, :66-96 statusMap,
  * :105-128 GetStatus / GetPixelResponse / GetErrorStatusCode /
  * MakeResponse) so every wire answer the gateway gives carries the
  * same body and code a portal or SDK sees from the reference.
  */
object GatewayResponse {

  val Ok = "OK"
  val RequestBodyNil = "Request body is nil"
  val InvalidRequestMethod = "Invalid HTTP Request Method"
  val TooManyRequests = "Max Requests Limit reached"
  val NoWriteKeyInBasicAuth = "Failed to read writeKey from header"
  val NoWriteKeyInQueryParams = "Failed to read writeKey from Query Params"
  val RequestBodyReadFailed = "Failed to read body from request"
  val RequestBodyTooLarge = "Request size exceeds max limit"
  val InvalidWriteKey = "Invalid Write Key"
  val InvalidJSON = "Invalid JSON"
  val InvalidWebhookSource = "Source does not accept webhook events"
  val SourceDisabled = "Source is disabled"
  val NonIdentifiableRequest = "Request neither has anonymousId nor userId"
  val ErrorInMarshal = "Error while marshalling"
  val ErrorInParseForm = "Error during parsing form"
  val ErrorInParseMultiform = "Error during parsing multiform"
  val NotKassetteEvent = "Event is not a valid kassette event"
  val ContextDeadlineExceeded = "context deadline exceeded"
  val GatewayTimeout = "Gateway timeout"

  /** response.go:66-96: status key → (message, HTTP code). */
  private val statusMap: Map[String, (String, Int)] = Map(
    Ok -> ((Ok, 200)),
    RequestBodyNil -> ((RequestBodyNil, 400)),
    InvalidRequestMethod -> ((InvalidRequestMethod, 400)),
    TooManyRequests -> ((TooManyRequests, 429)),
    NoWriteKeyInBasicAuth -> ((NoWriteKeyInBasicAuth, 401)),
    NoWriteKeyInQueryParams -> ((NoWriteKeyInQueryParams, 401)),
    RequestBodyReadFailed -> ((RequestBodyReadFailed, 500)),
    RequestBodyTooLarge -> ((RequestBodyTooLarge, 413)),
    InvalidWriteKey -> ((InvalidWriteKey, 401)),
    SourceDisabled -> ((SourceDisabled, 404)),
    InvalidJSON -> ((InvalidJSON, 400)),
    InvalidWebhookSource -> ((InvalidWebhookSource, 404)),
    NonIdentifiableRequest -> ((NonIdentifiableRequest, 400)),
    ErrorInMarshal -> ((ErrorInMarshal, 400)),
    ErrorInParseForm -> ((ErrorInParseForm, 400)),
    ErrorInParseMultiform -> ((ErrorInParseMultiform, 400)),
    NotKassetteEvent -> ((NotKassetteEvent, 400)),
    // the one key whose message differs from itself (response.go:95)
    ContextDeadlineExceeded -> ((GatewayTimeout, 504)))

  /** response.go:105 — unknown keys pass through as their own
    * message. */
  def getStatus(key: String): String =
    statusMap.get(key).map(_._1).getOrElse(key)

  /** response.go:117 — unknown keys default to 500. */
  def getErrorStatusCode(key: String): Int =
    statusMap.get(key).map(_._2).getOrElse(500)

  /** response.go:126 `{"msg": %q}` — Go's %q is a JSON-compatible
    * quoted string for the message vocabulary above. */
  def makeResponse(msg: String): String =
    s"""{"msg": "${Spool.jsonEscape(msg)}"}"""

  /** response.go:58 transPixelResponse — the 43-byte transparent
    * 1×1 GIF89a answered on the pixel intake path. */
  val pixelResponse: Array[Byte] = Array(
    0x47, 0x49, 0x46, 0x38, 0x39, 0x61, 0x01, 0x00, 0x01, 0x00, 0x80,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x21, 0xF9, 0x04,
    0x01, 0x00, 0x00, 0x00, 0x00, 0x2C, 0x00, 0x00, 0x00, 0x00, 0x01,
    0x00, 0x01, 0x00, 0x00, 0x02, 0x02, 0x44, 0x01, 0x00, 0x3B)
    .map(_.toByte)
}
