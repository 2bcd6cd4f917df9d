package graft

import graft.operators.{HttpAnswerer, Qa}
import org.scalatest.funsuite.AnyFunSuite

/** Q3 production path against a real localhost HTTP server (the JDK's
  * own — no network egress involved): request shape, auth header, JSON
  * escaping both directions, and the error-as-answer seam.
  */
class HttpAnswererSpec extends AnyFunSuite {

  /** Run `f` against a one-endpoint server; returns (result, requests
    * seen). The handler replies with `status` and `responseBody`.
    */
  private def withServer(status: Int, responseBody: String)
                        (f: String => Unit): Seq[(String, String)] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat/completions", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      seen += ((Option(exchange.getRequestHeaders.getFirst("Authorization")).getOrElse(""), body))
      val resp = responseBody.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      exchange.getResponseHeaders.set("Content-Type", "application/json")
      exchange.sendResponseHeaders(status, resp.length.toLong)
      exchange.getResponseBody.write(resp)
      exchange.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions")
    finally server.stop(0)
    seen.toSeq
  }

  test("round trip: auth header, escaped request, unescaped response content") {
    val canned = """{"choices":[{"message":{"role":"assistant",
      "content":"line one\nquote \" backslash \\ uni 中 done."}}]}"""
    val prompt = "ask about\n\"quoted\" things\tplease"
    var answer = ""
    val seen = withServer(200, canned) { url =>
      answer = HttpAnswerer(url, "sk-test-key", "test-model").generate(prompt)
    }
    assert(answer == "line one\nquote \" backslash \\ uni 中 done.")
    val (auth, body) = seen.head
    assert(auth == "Bearer sk-test-key")
    // the prompt's newline/quote/tab must be ESCAPED inside the JSON body
    assert(body.contains("""ask about\n\"quoted\" things\tplease"""))
    assert(body.contains(""""model":"test-model""""))
  }

  test("non-2xx becomes an exception; Qa.answer turns it into an answer string") {
    var viaSeam = ""
    withServer(503, """{"error":"overloaded"}""") { url =>
      val gen = HttpAnswerer(url, "k", "m")
      intercept[RuntimeException](gen.generate("hi"))
      viaSeam = Qa.answer(gen.generate)("hi") // reference error-as-answer semantics
    }
    assert(viaSeam.startsWith("抱歉，生成回答时出现错误"))
    assert(viaSeam.contains("503"))
  }

  test("payload shape matches the reference: sampling params, stream off, 120 s timeout") {
    // the reference's httpx call (qa_system.py:77-98) pins
    // temperature 0.1, max_tokens 2048, stream false, a leading
    // system message, and a 120 s client timeout — the knobs a
    // drop-in replacement must reproduce for comparable answers
    val canned = """{"choices":[{"message":{"content":"ok"}}]}"""
    val seen = withServer(200, canned) { url =>
      val gen = HttpAnswerer(url, "k", "test-model",
        systemPrompt = Some("you are a helpful assistant"))
      assert(gen.timeoutMs == 120000L, "default timeout must be the reference's 120 s")
      assert(gen.generate("the question") == "ok")
    }
    val body = seen.head._2
    assert(body.contains("\"temperature\":0.1"), body)
    assert(body.contains("\"max_tokens\":2048"), body)
    assert(body.contains("\"stream\":false"), body)
    // system message precedes the user message, chat-completions style
    val sysAt = body.indexOf("\"role\":\"system\"")
    val userAt = body.indexOf("\"role\":\"user\"")
    assert(sysAt >= 0 && userAt > sysAt, body)
    assert(body.contains("\"content\":\"you are a helpful assistant\""), body)
    assert(body.contains("\"content\":\"the question\""), body)
  }

  test("missing content field is an error, not an empty answer") {
    withServer(200, """{"choices":[]}""") { url =>
      intercept[RuntimeException](HttpAnswerer(url, "k", "m").generate("hi"))
    }
  }

  test("dotenv: parser covers the python-dotenv subset") {
    val parsed = HttpAnswerer.parseDotenv(
      """# comment line
        |API_KEY=sk-plain
        |export EXPORTED = yes
        |QUOTED="a b\nc \" d\\e"
        |SINGLE='keep $literal #notcomment'
        |TRAILING=value # comment
        |EMPTY=
        |DUP=first
        |DUP=second
        |  SPACED  =  padded
        |not a line
        |BAD KEY=x
        |""".stripMargin)
    assert(parsed("API_KEY") == "sk-plain")
    assert(parsed("EXPORTED") == "yes")
    assert(parsed("QUOTED") == "a b\nc \" d\\e")
    assert(parsed("SINGLE") == "keep $literal #notcomment")
    assert(parsed("TRAILING") == "value")
    assert(parsed("EMPTY") == "")
    assert(parsed("DUP") == "first") // first assignment wins
    assert(parsed("SPACED") == "padded")
    assert(!parsed.contains("BAD KEY") && !parsed.contains("not a line"))
  }

  test("dotenv: process env wins over the file; file fills the gap; missing file is silent") {
    val dir = SparkSpec.tmpDir("graft_dotenv")
    val envFile = dir.resolve(".env")
    java.nio.file.Files.write(envFile,
      "API_KEY=from-file\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // process env present → file loses (load_dotenv override=False)
    var warned = List.empty[String]
    val gen1 = HttpAnswerer.fromEnv("http://127.0.0.1:1/x", "m",
      env = k => Map("API_KEY" -> "from-env").get(k)
        .orElse(HttpAnswerer.loadDotenv(envFile).get(k)),
      warn = w => warned ::= w)
    assert(warned.isEmpty) // a key was found, no warning

    // no process env → the file's key is used (no missing-key warning)
    val gen2 = HttpAnswerer.fromEnv("http://127.0.0.1:1/x", "m",
      env = k => HttpAnswerer.loadDotenv(envFile).get(k),
      warn = w => warned ::= w)
    assert(warned.isEmpty)
    assert(gen1 != null && gen2 != null)

    // missing file + no env → warn once, error-string answers
    val gen3 = HttpAnswerer.fromEnv("http://127.0.0.1:1/x", "m",
      env = k => HttpAnswerer.loadDotenv(dir.resolve("nope.env")).get(k),
      warn = w => warned ::= w)
    assert(warned == List(HttpAnswerer.MissingKeyWarning))
    assert(gen3("any prompt") == HttpAnswerer.MissingKeyAnswer)
  }

  test("content extractor handles the full escape set and embedded quotes") {
    assert(HttpAnswerer.extractContent("""{"content":"a\"b\\cA\n"}""")
      .contains("a\"b\\cA\n"))
    // \uXXXX decode (JSON built via escapes so Scala can't pre-process it)
    assert(HttpAnswerer.extractContent("{\"content\":\"\\u0041ok\"}").contains("Aok"))
    assert(HttpAnswerer.extractContent("""{"x":1}""").isEmpty)
    assert(HttpAnswerer.extractContent("""{"content": 42}""").isEmpty)
  }
}
