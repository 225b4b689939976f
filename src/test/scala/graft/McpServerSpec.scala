package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import com.fasterxml.jackson.databind.ObjectMapper
import graft.ingest.DeterministicHashEmbedder

/** End-to-end MCP transport: JSON-RPC over HTTP against a live McpServer
  * wrapping a real Api — initialize/tools list/tool calls, governed errors
  * as isError results, protocol errors as JSON-RPC error objects.
  */
class McpServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private lazy val client = HttpClient.newHttpClient()

  private def withServer(body: (Int) => Unit): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("graft-mcp-wh").toString
    val api = new Api(spark, wh, new DeterministicHashEmbedder(16), "default")
    val server = new McpServer(new McpSurface(api), spark)
    val port = server.start()
    try body(port) finally server.stop()
  }

  private def rpc(port: Int, json: String): (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val resp = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/mcp"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
      HttpResponse.BodyHandlers.ofString())
    val node = if (resp.body().isEmpty) null else mapper.readTree(resp.body())
    (resp.statusCode(), node)
  }

  /** Parse a tools/call result: (isError, text payload). */
  private def toolResult(node: com.fasterxml.jackson.databind.JsonNode): (Boolean, String) = {
    val r = node.get("result")
    (r.get("isError").asBoolean(), r.get("content").get(0).get("text").asText())
  }

  test("initialize handshake + tools/list expose the two condensed tools") {
    withServer { port =>
      val (st, init) = rpc(port,
        """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""")
      assert(st == 200)
      assert(init.get("result").get("protocolVersion").asText() == "2025-03-26")
      assert(init.get("result").get("serverInfo").get("name").asText() == "graft")
      val (st2, _) = rpc(port,
        """{"jsonrpc":"2.0","method":"notifications/initialized"}""")
      assert(st2 == 202)
      val (_, tools) = rpc(port,
        """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")
      val names = tools.get("result").get("tools").elements()
      val ns = Iterator.continually(names).takeWhile(_.hasNext)
        .map(_.next().get("name").asText()).toSet
      assert(ns == Set("vector_collection_management", "vector_search"))
    }
  }

  test("full lifecycle over the wire: create with docs, list, search, delete") {
    withServer { port =>
      val create = mapper.createObjectNode()
      create.put("jsonrpc", "2.0").put("id", 3).put("method", "tools/call")
      val p = create.putObject("params")
      p.put("name", "vector_collection_management")
      val a = p.putObject("arguments")
      a.put("action", "create_collection").put("collection_name", "memory")
      val dc = a.putArray("document_contents")
      dc.add("spark is a distributed engine")
      dc.add("vectors live in collections")
      val (_, created) = rpc(port, mapper.writeValueAsString(create))
      val (err, body) = toolResult(created)
      assert(!err, s"create failed: $body")
      val created2 = mapper.readTree(body)
      assert(created2.get("status").asText() == "ready")
      assert(created2.get("documents_added").asLong() == 2L)

      val (_, listed) = rpc(port,
        """{"jsonrpc":"2.0","id":4,"method":"tools/call","params":{
          |"name":"vector_collection_management",
          |"arguments":{"action":"list_collections"}}}""".stripMargin)
      val (lErr, lBody) = toolResult(listed)
      assert(!lErr)
      assert(lBody.contains("memory"))

      val (_, searched) = rpc(port,
        """{"jsonrpc":"2.0","id":5,"method":"tools/call","params":{
          |"name":"vector_search","arguments":{"action":"search",
          |"collection_name":"memory","question":"distributed engine",
          |"number_results":2}}}""".stripMargin)
      val (sErr, sBody) = toolResult(searched)
      assert(!sErr, s"search failed: $sBody")
      val hits = mapper.readTree(sBody).get("results")
      assert(hits.isArray && hits.size() > 0, "hybrid search must return hits")
      assert(hits.get(0).get("score").isNumber)

      val (_, deleted) = rpc(port,
        """{"jsonrpc":"2.0","id":6,"method":"tools/call","params":{
          |"name":"vector_collection_management",
          |"arguments":{"action":"delete_collection",
          |"collection_name":"memory","confirm":true}}}""".stripMargin)
      val (dErr, dBody) = toolResult(deleted)
      assert(!dErr, s"delete failed: $dBody")
    }
  }

  test("vector_search passes semantic_mode/lexical_mode through to the index routes") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mcp-wh").toString
    val api = new Api(spark, wh, new DeterministicHashEmbedder(16), "default")
    val server = new McpServer(new McpSurface(api), spark)
    val port = server.start()
    try {
      import spark.implicits._
      api.createCollection("modes", documents = Some(Seq(
        "spark is a distributed engine", "vectors live in collections",
        "a spark of inspiration", "collections of stamps").toDF("content")))
      api.buildLexicalIndex("modes")
      def call(args: String): (Boolean, String) = toolResult(rpc(port,
        s"""{"jsonrpc":"2.0","id":7,"method":"tools/call","params":{
          |"name":"vector_search","arguments":{"collection_name":"modes",
          |"question":"spark engine","number_results":3,$args}}}""".stripMargin)._2)
      def hits(body: String): Seq[(String, Double)] = {
        val rs = mapper.readTree(body).get("results")
        (0 until rs.size()).map(i => rs.get(i).get("id").asText() -> rs.get(i).get("score").asDouble())
      }
      def direct(res: SearchResponse) = res.results.map(h => h.id -> h.score)
      val (err, body) = call(""""action":"lexical_search","lexical_mode":"bm25_indexed"""")
      assert(!err, body)
      assert(hits(body).nonEmpty &&
        hits(body) == direct(api.lexicalSearchBm25Indexed("modes", Seq("spark engine"), 3)))
      // absent modes keep the defaults (exact / scan): TF scores, not BM25
      val (_, dflt) = call(""""action":"lexical_search"""")
      assert(hits(dflt) == direct(api.lexicalSearch("modes", Seq("spark engine"), 3)))
      assert(hits(dflt) != hits(body))
      // an unknown mode is governed like an unknown action
      assert(call(""""action":"semantic_search","semantic_mode":"nope"""") ==
        (true, graft.model.ErrorCodes.SearchActionInvalid))
      val (_, listed) = rpc(port, """{"jsonrpc":"2.0","id":8,"method":"tools/list"}""")
      val search = listed.get("result").get("tools").get(1)
      assert(search.get("name").asText() == "vector_search")
      val props = search.get("inputSchema").get("properties")
      assert(props.has("semantic_mode") && props.has("lexical_mode"))
    } finally server.stop()
  }

  test("governed errors are isError tool results; protocol errors are JSON-RPC errors") {
    withServer { port =>
      // invalid action -> governed code in an isError result, not a crash
      val (_, bad) = rpc(port,
        """{"jsonrpc":"2.0","id":7,"method":"tools/call","params":{
          |"name":"vector_collection_management",
          |"arguments":{"action":"explode_collection"}}}""".stripMargin)
      val (isErr, code) = toolResult(bad)
      assert(isErr && code == "collection_action_invalid")
      // delete without confirm -> governed confirmation error
      val (_, noConfirm) = rpc(port,
        """{"jsonrpc":"2.0","id":8,"method":"tools/call","params":{
          |"name":"vector_collection_management",
          |"arguments":{"action":"delete_collection","collection_name":"x"}}}""".stripMargin)
      val (cErr, cCode) = toolResult(noConfirm)
      assert(cErr && cCode == "delete_confirmation_required")
      // unknown rpc method -> -32601
      val (_, unknown) = rpc(port,
        """{"jsonrpc":"2.0","id":9,"method":"resources/list"}""")
      assert(unknown.get("error").get("code").asInt() == -32601)
      // unparseable body -> -32700
      val (st, parse) = rpc(port, "{nope")
      assert(st == 400 && parse.get("error").get("code").asInt() == -32700)
      // unknown tool name -> JSON-RPC -32602 (protocol error: the tool
      // never ran, so no governed engine code applies)
      val (_, badTool) = rpc(port,
        """{"jsonrpc":"2.0","id":10,"method":"tools/call","params":{
          |"name":"no_such_tool","arguments":{}}}""".stripMargin)
      assert(badTool.get("error").get("code").asInt() == -32602)
    }
  }

  test("health route answers GET without touching the engine") {
    withServer { port =>
      val resp = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(mapper.readTree(resp.body()).get("status").asText() == "ok")
      // POST to /health is a 405, not a crash
      val bad = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/health"))
        .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 405)
    }
  }

  test("non-loopback Origin is rejected 403 (DNS-rebinding guard); loopback passes") {
    withServer { port =>
      val evil = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/mcp"))
        .header("Content-Type", "application/json")
        .header("Origin", "http://evil.example.com")
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"jsonrpc":"2.0","id":1,"method":"ping"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(evil.statusCode() == 403)
      val ok = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/mcp"))
        .header("Content-Type", "application/json")
        .header("Origin", "http://localhost:3000")
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"jsonrpc":"2.0","id":1,"method":"ping"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() == 200)
    }
  }

  test("ping answers while a slow tools/call is in flight (worker pool, not dispatch thread)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mcp-wh").toString
    val api = new Api(spark, wh, new DeterministicHashEmbedder(16), "default")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    // a surface whose search blocks until released — deterministic stand-in
    // for a long-running Spark query occupying one worker
    val slowSurface = new McpSurface(api) {
      override def vectorSearch(
          action: String, collectionName: String, question: String,
          numberResults: Int, semanticWeight: Double, lexicalWeight: Double,
          rrfK: Int, dbType: String, semanticMode: String,
          lexicalMode: String): Map[String, Any] = {
        entered.countDown()
        release.await(30, java.util.concurrent.TimeUnit.SECONDS)
        Map("results" -> Seq.empty)
      }
    }
    val server = new McpServer(slowSurface, spark)
    val port = server.start()
    try {
      val slow = new Thread(() => rpc(port,
        """{"jsonrpc":"2.0","id":20,"method":"tools/call","params":{
          |"name":"vector_search","arguments":{"action":"search",
          |"collection_name":"x","question":"y"}}}""".stripMargin))
      slow.start()
      assert(entered.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "slow call never reached the surface")
      // with the call parked on a worker, ping must still answer
      val (st, pong) = rpc(port, """{"jsonrpc":"2.0","id":21,"method":"ping"}""")
      assert(st == 200 && pong.get("result") != null)
    } finally {
      release.countDown()
      server.stop()
    }
  }
}
