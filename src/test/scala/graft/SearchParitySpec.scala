package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.ingest.DeterministicHashEmbedder
import graft.model.{ErrorCodes, GraftException}

/** The two MCP search tools serve one route table: for every
  * (action, mode) pair both accept, the batch tool over several
  * questions returns the per-question tool's hits concatenated, and a
  * zero-norm embedding is kept out of the semantic legs instead of
  * failing them.
  */
class SearchParitySpec extends SparkSpec {
  import spark.implicits._

  private def newSurface(): (Api, McpSurface) = {
    val api = new Api(spark, Files.createTempDirectory("graft-wh-parity").toString,
      new DeterministicHashEmbedder(32))
    (api, new McpSurface(api))
  }

  /** Documents of very unequal length: BM25's length normalization ranks
    * them differently from raw term frequency.
    */
  private def corpus(): DataFrame =
    (0 until 24).map { i =>
      val filler = Seq.tabulate(1 + (i % 6) * 7)(j => s"w${(i * 31 + j) % 50}").mkString(" ")
      val terms = Seq.fill(1 + i % 3)(if (i % 2 == 0) "alpha" else "gamma").mkString(" ")
      s"doc $i $terms beta $filler"
    }.toDF("content")

  private def hits(res: Map[String, Any]): Seq[(Any, Any)] =
    res("results").asInstanceOf[Seq[Map[String, Any]]].map(h => (h("id"), h("score")))

  test("vectorSearchMany == per-question vectorSearch on every shared (action, mode) pair") {
    val (api, mcp) = newSurface()
    api.createCollection("par", documents = Some(corpus()))
    api.buildAnnIndex("par", nClusters = 3)
    api.buildLshIndex("par", bits = 4, tables = 4)
    api.buildPqIndex("par", m = 4, k = 4, iters = 1)
    api.buildLexicalIndex("par")
    api.buildChunkIndex("par", maxTokens = 4)
    val questions = Seq("alpha beta", "gamma w3")
    val pairs =
      McpSurface.SemanticModes.map(m => ("semantic_search", m, "scan")) ++
      McpSurface.LexicalModes.map(m => ("lexical_search", "exact", m)) ++
      (for (sm <- McpSurface.SemanticModes; lm <- McpSurface.LexicalModes)
        yield ("search", sm, lm))
    for ((action, sm, lm) <- pairs) {
      val many = hits(mcp.vectorSearchMany(action, "par", questions, numberResults = 5,
        semanticMode = sm, lexicalMode = lm))
      val single = questions.flatMap(q => hits(mcp.vectorSearch(action, "par", q,
        numberResults = 5, semanticMode = sm, lexicalMode = lm)))
      assert(single.nonEmpty, s"($action, $sm, $lm) served nothing")
      assert(many == single, s"($action, $sm, $lm): batch diverged from the per-question tool")
    }
    // the weights and rrf_k are validated on the batch path too
    assert(intercept[GraftException](mcp.vectorSearchMany("search", "par", questions,
      rrfK = 0)).code == ErrorCodes.RrfKInvalid)
  }

  test("a zero-norm embedding is left out of the semantic legs, not fatal") {
    val (api, mcp) = newSurface()
    api.createCollection("zero", documents = Some(corpus()))
    api.buildAnnIndex("zero", nClusters = 3)
    api.addDocuments("zero", Seq(("orphan vector omega", Array.fill(32)(0f)))
      .toDF("content", "embedding"))
    val zeroId = api.lexicalSearch("zero", Seq("omega"), 1).results.head.id
    def ids(res: Map[String, Any]): Seq[Any] = hits(res).map(_._1)
    for ((action, sm) <- Seq(("semantic_search", "exact"), ("semantic_search", "approx"),
        ("search", "exact"), ("search", "approx"))) {
      val served = ids(mcp.vectorSearch(action, "zero", "alpha beta",
        numberResults = 30, semanticMode = sm, lexicalMode = "scan"))
      assert(served.nonEmpty && !served.contains(zeroId), s"($action, $sm)")
    }
    assert(ids(mcp.vectorSearch("lexical_search", "zero", "orphan omega")).head == zeroId)
  }
}
