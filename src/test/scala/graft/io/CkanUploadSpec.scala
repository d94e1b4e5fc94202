package graft.io

import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.scalatest.funsuite.AnyFunSuite

/** K4 CKAN `resource_update` against a loopback HTTP server: no egress
  * needed — bind 127.0.0.1, capture the multipart body, assert its
  * shape (id field, upload file part with filename and the exact file
  * bytes, Authorization header), and the error path on a CKAN-style
  * 409. The JDK's built-in HttpServer keeps this dependency-free. */
class CkanUploadSpec extends AnyFunSuite {

  private def withServer(status: Int, response: String)(
      body: (String, () => (Map[String, String], Array[Byte])) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var captured: (Map[String, String], Array[Byte]) = (Map.empty, Array.empty)
    server.createContext("/api/3/action/resource_update", (ex: HttpExchange) => {
      import scala.jdk.CollectionConverters._
      val headers = ex.getRequestHeaders.asScala.map { case (k, v) =>
        k.toLowerCase -> v.asScala.mkString(",")
      }.toMap + ("__method" -> ex.getRequestMethod)
      val bytes = ex.getRequestBody.readAllBytes()
      captured = (headers, bytes)
      val out = response.getBytes("UTF-8")
      ex.sendResponseHeaders(status, out.length)
      ex.getResponseBody.write(out)
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}", () => captured)
    finally server.stop(0)
  }

  test("resource_update POSTs a multipart body with id field and file part") {
    val file = graft.SparkSpec.tempFile("graft-ckan", ".csv")
    val content = "site,count\nA,3\nB,5\n"
    Files.writeString(file, content)
    withServer(200, """{"success": true, "result": {"id": "rid-1"}}""") { (url, cap) =>
      val resp = Sinks.ckanResourceUpdate(file.toString, "rid-1", url, apiKey = "key-abc")
      assert(resp.contains("\"success\": true"))
      val (headers, bytes) = cap()
      assert(headers("__method") == "POST")
      assert(headers("authorization") == "key-abc")
      val ct = headers("content-type")
      assert(ct.startsWith("multipart/form-data; boundary="))
      val boundary = ct.split("boundary=")(1)
      val text = new String(bytes, "UTF-8")
      // Both parts present, delimited by the declared boundary.
      assert(text.contains(s"--$boundary\r\n"))
      assert(text.contains("Content-Disposition: form-data; name=\"id\"\r\n\r\nrid-1\r\n"))
      assert(text.contains("Content-Disposition: form-data; name=\"upload\"; " +
        s"""filename="${file.getFileName}"\r\n"""))
      // The file bytes ride verbatim between the part header and the
      // closing delimiter.
      assert(text.contains(s"\r\n\r\n$content\r\n--$boundary--\r\n"))
    }
  }

  test("resource_update surfaces CKAN errors as exceptions with the body") {
    val file = graft.SparkSpec.tempFile("graft-ckan-err", ".csv")
    Files.writeString(file, "x\n1\n")
    withServer(409, """{"success": false, "error": {"message": "Conflict"}}""") { (url, _) =>
      val e = intercept[java.io.IOException](
        Sinks.ckanResourceUpdate(file.toString, "rid-2", url))
      assert(e.getMessage.contains("HTTP 409") && e.getMessage.contains("Conflict"))
    }
  }
}
