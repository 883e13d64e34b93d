package graft.sources

/** The S1 fetch seam: city -> raw payload string (one WAQI JSON
  * document, `/root/reference/dags/my_data_pipeline.py:22-48`).
  *
  * Implementations MUST be serializable and cheap to construct: a
  * transport instance (or the class name + options to build one) ships
  * to executors, where [[fetch]] runs once per city INSIDE the scan —
  * the slices of [[Fetch.slices]] in parallel, unlike the reference's
  * sequential driver-side loop (my_data_pipeline.py:78,155).
  * Failures never throw out of [[fetch]]: transport-level errors come
  * back as an error-status payload string, so the downstream
  * PERMISSIVE parse + status dispatch (S2) handles HTTP failures, API
  * errors, and corrupt JSON through ONE code path and each contributes
  * zero data rows. A throw is a contract breach: it fails the task.
  */
trait WaqiTransport extends Serializable {
  def fetch(city: String): String
}

object WaqiTransport {
  /** Build a transport from its class name, preferring a
    * `(Map[String, String])` options constructor and falling back to
    * no-arg — how the DataSource V2 reader materializes the seam on
    * executors from the scan options. */
  def instantiate(fqcn: String, options: Map[String, String]): WaqiTransport = {
    val cls = Class.forName(fqcn)
    val inst =
      try cls.getConstructor(classOf[Map[_, _]]).newInstance(options)
      catch {
        case _: NoSuchMethodException =>
          cls.getDeclaredConstructor().newInstance()
      }
    inst.asInstanceOf[WaqiTransport]
  }
}

/** The REAL fetch: HTTP GET `{baseUrl}/{city}/?token={token}` — the
  * live path of the reference's extract stage. Plain
  * `HttpURLConnection` (JDK-only, serializable state = 4 scalars).
  * Non-2xx responses return the error BODY (the reference observes
  * bodies like "Error 401: Invalid API token." — S2 turns them into
  * error rows); connection-level failures return a synthetic
  * `status: "error: ..."` payload. Exercised for real in
  * WaqiDsv2Spec against a loopback HTTP server — the sandbox has no
  * egress, but the GET -> body -> parse path is the same code that
  * would hit api.waqi.info. The city is percent-encoded as one path
  * segment and the token as a query value, so `new york` reaches the
  * server as `new%20york`. */
final class HttpWaqiTransport(baseUrl: String, token: String,
    connectTimeoutMs: Int, readTimeoutMs: Int) extends WaqiTransport {

  def this(options: Map[String, String]) = this(
    options.getOrElse("baseUrl", "https://api.waqi.info/feed"),
    options.getOrElse("token", sys.env.getOrElse("WAQI_TOKEN", "demo")),
    options.getOrElse("connectTimeoutMs", "5000").toInt,
    options.getOrElse("readTimeoutMs", "15000").toInt)

  override def fetch(city: String): String =
    try {
      def enc(v: String) = java.net.URLEncoder
        .encode(v, java.nio.charset.StandardCharsets.UTF_8).replace("+", "%20")
      val conn = new java.net.URI(s"$baseUrl/${enc(city)}/?token=${enc(token)}").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(connectTimeoutMs)
      conn.setReadTimeout(readTimeoutMs)
      conn.setRequestMethod("GET")
      try {
        val code = conn.getResponseCode
        val stream =
          if (code >= 400) conn.getErrorStream else conn.getInputStream
        if (stream == null) s"""{"status": "error: http $code empty body"}"""
        else {
          val src = scala.io.Source.fromInputStream(stream, "UTF-8")
          try src.mkString finally src.close()
        }
      } finally conn.disconnect()
    } catch {
      case e: Exception =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          .replace("\\", "\\\\").replace("\"", "\\\"")
        s"""{"status": "error: transport $msg"}"""
    }
}

/** The injected sandbox/test transport: serves the canned
  * [[WaqiFixtures]] payloads. Unknown cities get an error-status
  * payload (zero data rows), matching the live transport's failure
  * contract. */
final class FixtureWaqiTransport extends WaqiTransport {
  private val byCity = WaqiFixtures.all.toMap
  override def fetch(city: String): String =
    byCity.getOrElse(city, s"""{"status": "error: unknown city $city"}""")
}
