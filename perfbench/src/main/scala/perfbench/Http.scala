package perfbench

import java.net.{HttpURLConnection, URI}

/** A raw response: status, content type and the whole body. */
final case class Raw(status: Int, contentType: String, body: Array[Byte]) {
  def ok: Boolean = status >= 200 && status < 300
  def text: String = new String(body, java.nio.charset.StandardCharsets.UTF_8)
}

/** Blocking HTTP/1.1 client over the JDK's keep-alive connection cache:
  * one calling thread holds at most one connection, so N client threads
  * use at most N connections and no helper threads.
  */
final class Http(port: Int) {

  def call(method: String, path: String, body: Array[Byte] = null,
      contentType: String = "application/json"): Raw = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    if (body != null) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", contentType)
      c.setFixedLengthStreamingMode(body.length)
      val out = c.getOutputStream
      out.write(body)
      out.close()
    }
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val bytes = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    Raw(status, Option(c.getContentType).getOrElse(""), bytes)
  }

  /** Like [[call]], but a non-2xx answer is an error (setup steps). */
  def must(method: String, path: String, body: String = null): Raw = {
    val r = call(method, path,
      Option(body).map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).orNull)
    if (!r.ok) throw new IllegalStateException(s"$method $path -> ${r.status}: ${r.text.take(300)}")
    r
  }
}
