package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Chat
import graft.functions.TextFunctions

/** SFT / chat-transcript curation queries. Conversations are synthesized
  * deterministically from the documents table (turn i carries tokens
  * (i-1)*13+1 .. +len_i of the doc, len_i = 5 + (i*7) mod 9, up to 7
  * content turns behind a system turn; docs with doc_id % 13 = 0 get turn
  * 2 mis-roled 'user' — a planted alternation defect), serialized to the
  * JSON messages format, and re-parsed through [[Chat.parseConversations]]
  * — so the JSON roundtrip, the structural audit, and the budget trim are
  * all under the one DuckDB replay.
  */
object ChatQueries {

  /** (doc_id, msgs JSON) — the synthesized chat corpus. */
  private def convJson(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")))
    val content = d
      .select(col("doc_id"), col("n_tok"), col("toks"),
        explode(sequence(lit(1), lit(7))).as("i"))
      .withColumn("len", lit(5) + pmod(col("i") * 7, lit(9)))
      .filter((col("i") - 1) * 13 + col("len") <= col("n_tok"))
      .withColumn("role",
        when(col("doc_id") % 13 === 0 && col("i") === 2, lit("user"))
          .otherwise(when(pmod(col("i"), lit(2)) === 1, lit("user"))
            .otherwise(lit("assistant"))))
      .withColumn("content",
        expr("concat_ws(' ', slice(toks, (i - 1) * 13 + 1, len))"))
      .select(col("doc_id"), col("i"), col("role"), col("content"))
    val sys = d.select(col("doc_id"), lit(0).as("i"),
      lit("system").as("role"), lit("system guidelines apply").as("content"))
    content.unionByName(sys)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("i"), col("role"), col("content"))))
        .as("ts"))
      .select(col("doc_id"),
        to_json(expr("transform(ts, t -> struct(t.role AS role, t.content AS content))"))
          .as("msgs"))
  }

  /** DuckDB fragment: the content turns (doc_id, i, len, role). */
  private val turnsCte: String =
    """d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]{2,}') AS toks
      |      FROM documents),
      |t AS (SELECT d.doc_id, g.i, 5 + (g.i * 7) % 9 AS len,
      |             CASE WHEN d.doc_id % 13 = 0 AND g.i = 2 THEN 'user'
      |                  WHEN g.i % 2 = 1 THEN 'user' ELSE 'assistant' END AS role
      |      FROM d CROSS JOIN generate_series(1, 7) g(i)
      |      WHERE (g.i - 1) * 13 + 5 + (g.i * 7) % 9 <= len(d.toks))""".stripMargin

  // ---- structural audit: JSON roundtrip -> per-conversation validity ----
  def chatValidate(s: SparkSession, dir: String): DataFrame =
    Chat.alternationReport(
        Chat.parseConversations(convJson(s, dir), "doc_id", "msgs"))
      .orderBy("conv_id")

  val chatValidateSql: String =
    s"""WITH $turnsCte,
      |f AS (SELECT doc_id,
      |             CAST(count(*) AS INTEGER) AS n_content,
      |             bool_and(prev IS NULL OR prev <> role) AS alternates,
      |             max(CASE WHEN i = 1 THEN role END) = 'user' AS starts_user,
      |             arg_max(role, i) = 'assistant' AS ends_assistant
      |      FROM (SELECT *, lag(role) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      |            FROM t)
      |      GROUP BY doc_id)
      |SELECT d.doc_id AS conv_id,
      |       CAST(coalesce(f.n_content, 0) + 1 AS INTEGER) AS n_turns,
      |       TRUE AS has_system,
      |       coalesce(f.starts_user, FALSE) AS starts_user,
      |       coalesce(f.alternates, TRUE) AS alternates,
      |       coalesce(f.ends_assistant, FALSE) AS ends_assistant,
      |       coalesce(f.starts_user, FALSE) AND coalesce(f.alternates, TRUE)
      |         AND coalesce(f.ends_assistant, FALSE) AS valid
      |FROM d LEFT JOIN f ON f.doc_id = d.doc_id
      |ORDER BY conv_id""".stripMargin

  // ---- budget trim: longest suffix within 40 tokens, user-aligned ----
  // The parsed turns are re-counted with the SAME tokenizer the synthesis
  // used, so content-turn costs equal len_i and the system turn costs 3 —
  // the oracle replays the reverse running sum and the user-alignment cut
  // from the synthesis arithmetic alone, without seeing any JSON.
  def chatBudget(s: SparkSession, dir: String): DataFrame = {
    val turns = Chat.parseConversations(convJson(s, dir), "doc_id", "msgs")
      .withColumn("tokens",
        size(TextFunctions.tokens(col("content"))).cast("long"))
    Chat.contextBudgetTrim(turns, budget = 40L, "tokens")
      .groupBy("conv_id")
      .agg(
        sum(when(col("role") =!= "system", 1L).otherwise(0L)).as("n_kept"),
        sum(col("tokens")).as("kept_tokens"),
        coalesce(min(when(col("role") =!= "system", col("turn_idx"))),
          lit(-1)).cast("long").as("first_kept_idx"))
      .orderBy("conv_id")
  }

  val chatBudgetSql: String =
    s"""WITH $turnsCte,
      |rv AS (SELECT doc_id, i, len, role,
      |              sum(len) OVER (PARTITION BY doc_id ORDER BY i DESC) AS rev_sum
      |       FROM t),
      |sfx AS (SELECT * FROM rv WHERE rev_sum + 3 <= 40),
      |fu AS (SELECT doc_id, min(CASE WHEN role = 'user' THEN i END) AS u0
      |       FROM sfx GROUP BY doc_id),
      |kept AS (SELECT sfx.* FROM sfx JOIN fu ON fu.doc_id = sfx.doc_id
      |         WHERE sfx.i >= fu.u0)
      |SELECT d.doc_id AS conv_id,
      |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
      |       CAST(coalesce(k.kept_len, 0) + 3 AS BIGINT) AS kept_tokens,
      |       CAST(coalesce(k.first_i, -1) AS BIGINT) AS first_kept_idx
      |FROM d LEFT JOIN (SELECT doc_id, count(*) AS n_kept, sum(len) AS kept_len,
      |                         min(i) AS first_i
      |                  FROM kept GROUP BY doc_id) k ON k.doc_id = d.doc_id
      |ORDER BY conv_id""".stripMargin

  // ---- tool-role transcripts: planted orphan/misplaced tool turns ----
  // Roles per doc: system, then user, assistant, tool, assistant, user,
  // assistant — a valid tool-call exchange. Planted defects: docs with
  // doc_id % 11 = 0 have the first assistant replaced by 'tool' (a tool
  // result directly after user — grammar break), docs with doc_id % 7
  // = 0 append a trailing 'tool' turn (conversation ends on a tool
  // result). The oracle predicts every audit flag from the planting
  // arithmetic alone — any drift in the role grammar shows as a hash
  // mismatch.
  private def toolConvJson(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select(col("doc_id"))
    val baseRoles = Seq("user", "assistant", "tool", "assistant", "user", "assistant")
    val content = d
      .select(col("doc_id"), explode(sequence(lit(1), lit(7))).as("i"))
      .filter(col("i") <= 6 || col("doc_id") % 7 === 0)
      .withColumn("role",
        when(col("i") === 7, lit("tool"))
          .when(col("i") === 2 && col("doc_id") % 11 === 0, lit("tool"))
          .otherwise(element_at(typedLit(baseRoles), col("i").cast("int"))))
      .withColumn("content", concat(lit("turn "), col("i")))
      .select(col("doc_id"), col("i"), col("role"), col("content"))
    val sys = d.select(col("doc_id"), lit(0).as("i"),
      lit("system").as("role"), lit("tool guidelines apply").as("content"))
    content.unionByName(sys)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("i"), col("role"), col("content"))))
        .as("ts"))
      .select(col("doc_id"),
        to_json(expr("transform(ts, t -> struct(t.role AS role, t.content AS content))"))
          .as("msgs"))
  }

  def chatTools(s: SparkSession, dir: String): DataFrame =
    Chat.alternationReport(
        Chat.parseConversations(toolConvJson(s, dir), "doc_id", "msgs"))
      .orderBy("conv_id")

  val chatToolsSql: String =
    """SELECT doc_id AS conv_id,
      |       CAST(7 + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_turns,
      |       TRUE AS has_system,
      |       TRUE AS starts_user,
      |       doc_id % 11 <> 0 AS alternates,
      |       doc_id % 7 <> 0 AS ends_assistant,
      |       doc_id % 11 <> 0 AND doc_id % 7 <> 0 AS valid
      |FROM documents ORDER BY conv_id""".stripMargin

  /** Per conversation and budget: kept content turns, kept tool turns,
    * kept tokens and the first kept content turn (-1 when none).
    */
  private def trimSummary(kept: DataFrame): DataFrame =
    kept.groupBy("conv_id", "budget")
      .agg(
        sum(when(col("role") =!= "system", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("role") === "tool", 1L).otherwise(0L)).as("n_tool_kept"),
        sum(col("tokens")).as("kept_tokens"),
        coalesce(min(when(col("role") =!= "system", col("turn_idx"))),
          lit(-1)).cast("long").as("first_kept_idx"))
      .orderBy("conv_id", "budget")

  /** The tool-aware trim in DuckDB after the suffix `sfx` within budget
    * `b` (system turn costs 2): cut at the first kept user turn, drop tool
    * turns whose `anchor` was cut, and summarize as [[trimSummary]].
    */
  private val toolTrimTailSql: String =
    """fu AS (SELECT conv_id, budget,
      |              min(CASE WHEN role = 'user' THEN i END) AS u0
      |       FROM sfx GROUP BY conv_id, budget),
      |kept AS (SELECT sfx.* FROM sfx
      |         JOIN fu ON fu.conv_id = sfx.conv_id AND fu.budget = sfx.budget
      |         WHERE sfx.i >= fu.u0
      |           AND (sfx.role <> 'tool'
      |                OR (sfx.anchor IS NOT NULL AND sfx.anchor >= fu.u0)))
      |SELECT d.doc_id AS conv_id, bb.budget,
      |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
      |       CAST(coalesce(k.n_tool, 0) AS BIGINT) AS n_tool_kept,
      |       CAST(coalesce(k.kept_len, 0) + 2 AS BIGINT) AS kept_tokens,
      |       CAST(coalesce(k.first_i, -1) AS BIGINT) AS first_kept_idx
      |FROM documents d CROSS JOIN b bb
      |LEFT JOIN (SELECT conv_id, budget, count(*) AS n_kept,
      |                  sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS n_tool,
      |                  sum(len) AS kept_len, min(i) AS first_i
      |           FROM kept GROUP BY conv_id, budget) k
      |  ON k.conv_id = d.doc_id AND k.budget = bb.budget
      |ORDER BY conv_id, bb.budget""".stripMargin

  // ---- budget trim over the TOOL fixture: grades the orphan rule ----
  // Same planted roles as q_chat_tools; token costs 3 + (doc_id+i) mod 5
  // per content turn, system costs 2, budget 18 — the suffix cut lands
  // at different turns per doc. The %11 docs' misplaced tools (no
  // preceding assistant) must DROP even when the budget admits them;
  // the oracle replays suffix sums, the user-aligned start, and the
  // anchor rule (nearest preceding assistant kept) in SQL windows.
  def chatBudgetTools(s: SparkSession, dir: String): DataFrame = {
    val baseRoles = Seq("user", "assistant", "tool", "assistant", "user", "assistant")
    val content = Tables.t(s, dir, "documents")
      .select(col("doc_id").as("conv_id"),
        explode(sequence(lit(1), lit(7))).as("i"))
      .filter(col("i") <= 6 || col("conv_id") % 7 === 0)
      .withColumn("role",
        when(col("i") === 7, lit("tool"))
          .when(col("i") === 2 && col("conv_id") % 11 === 0, lit("tool"))
          .otherwise(element_at(typedLit(baseRoles), col("i").cast("int"))))
      .select(col("conv_id"), col("i").as("turn_idx"), col("role"),
        (lit(3) + pmod(col("conv_id") + col("i"), lit(5))).cast("long").as("tokens"))
    val sys = Tables.t(s, dir, "documents")
      .select(col("doc_id").as("conv_id"), lit(0).as("turn_idx"),
        lit("system").as("role"), lit(2L).as("tokens"))
    val turns = content.unionByName(sys)
    // two budget legs: 18 cuts mid-conversation (suffix + user-alignment
    // graded); 40 keeps whole conversations, where the %11 docs' ANCHORLESS
    // tools sit INSIDE the kept region and only the orphan rule drops them
    val kept = Seq(18L, 40L).map { b =>
      Chat.contextBudgetTrim(turns, b, "tokens").withColumn("budget", lit(b))
    }.reduce(_ unionByName _)
    trimSummary(kept)
  }

  val chatBudgetToolsSql: String =
    s"""WITH t AS (SELECT doc_id AS conv_id, CAST(g.i AS INTEGER) AS i,
      |             CASE WHEN g.i = 7 THEN 'tool'
      |                  WHEN g.i = 2 AND doc_id % 11 = 0 THEN 'tool'
      |                  WHEN g.i = 1 THEN 'user' WHEN g.i = 2 THEN 'assistant'
      |                  WHEN g.i = 3 THEN 'tool' WHEN g.i = 4 THEN 'assistant'
      |                  WHEN g.i = 5 THEN 'user' ELSE 'assistant' END AS role,
      |             3 + (doc_id + g.i) % 5 AS len
      |      FROM documents CROSS JOIN generate_series(1, 7) g(i)
      |      WHERE g.i <= 6 OR doc_id % 7 = 0),
      |a AS (SELECT *, max(CASE WHEN role = 'assistant' THEN i END)
      |               OVER (PARTITION BY conv_id ORDER BY i
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |               AS anchor,
      |             sum(len) OVER (PARTITION BY conv_id ORDER BY i DESC) AS rev_sum
      |      FROM t),
      |b AS (SELECT CAST(unnest([18, 40]) AS BIGINT) AS budget),
      |sfx AS (SELECT a.*, b.budget FROM a CROSS JOIN b
      |        WHERE rev_sum + 2 <= b.budget),
      |$toolTrimTailSql""".stripMargin

  // ---- id-matched tool anchoring: parallel calls + interleaved results ----
  // Content turns i=1..9 per doc: user, assistant calls [c{d}_1, c{d}_2],
  // tool c{d}_1, tool c{d}_2 (a PARALLEL-results run — valid only under
  // the id grammar), assistant (answer), user, assistant calls [c{d}_3],
  // tool c{d}_3, assistant. Plants:
  //   d%5  = 0: turn 4's call_id -> 'cX' (unknown id)        -> unanchored
  //   d%9  = 0: turn 8's call_id -> c{d}_1 (an EARLIER call;
  //             the nearest assistant doesn't carry it)      -> unanchored
  //   d%13 = 0: turn 6 (user) -> tool with c{d}_2 (its
  //             nearest assistant issued no calls)           -> unanchored
  //   d%17 = 0: turn 1 (user) -> tool 'cZ' (tool-first)      -> grammar break
  // Every audit flag and every trim anchor is a pure function of doc_id,
  // so the oracle predicts both queries from the planting arithmetic.
  private def toolIdTurns(s: SparkSession, dir: String): DataFrame = {
    val cid = (n: Int) => concat(lit("c"), col("doc_id"), lit(s"_$n"))
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), explode(sequence(lit(1), lit(9))).as("i"))
      .withColumn("role",
        when(col("i") === 1,
          when(col("doc_id") % 17 === 0, lit("tool")).otherwise(lit("user")))
          .when(col("i").isin(2, 5, 7, 9), lit("assistant"))
          .when(col("i") === 6,
            when(col("doc_id") % 13 === 0, lit("tool")).otherwise(lit("user")))
          .otherwise(lit("tool")))
      .withColumn("call_id",
        when(col("i") === 3, cid(1))
          .when(col("i") === 4,
            when(col("doc_id") % 5 === 0, lit("cX")).otherwise(cid(2)))
          .when(col("i") === 8,
            when(col("doc_id") % 9 === 0, cid(1)).otherwise(cid(3)))
          .when(col("i") === 6 && col("doc_id") % 13 === 0, cid(2))
          .when(col("i") === 1 && col("doc_id") % 17 === 0, lit("cZ"))
          .otherwise(lit(null).cast("string")))
      .withColumn("calls",
        when(col("i") === 2, array(cid(1), cid(2)))
          .when(col("i") === 7, array(cid(3)))
          .otherwise(lit(null).cast("array<string>")))
      .withColumn("content", concat(lit("turn "), col("i")))
      .select(col("doc_id"), col("i"), col("role"), col("content"),
        col("call_id"), col("calls"))
  }

  private def toolIdConvJson(s: SparkSession, dir: String): DataFrame = {
    val content = toolIdTurns(s, dir)
    val sys = Tables.t(s, dir, "documents")
      .select(col("doc_id"), lit(0).as("i"), lit("system").as("role"),
        lit("tool guidelines apply").as("content"),
        lit(null).cast("string").as("call_id"),
        lit(null).cast("array<string>").as("calls"))
    content.unionByName(sys)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("i"), col("role"), col("content"),
        col("call_id"), col("calls")))).as("ts"))
      .select(col("doc_id"),
        to_json(expr("""transform(ts, t -> struct(
               |  t.role AS role, t.content AS content,
               |  t.call_id AS tool_call_id, t.calls AS tool_calls))""".stripMargin))
          .as("msgs"))
  }

  def chatToolsIds(s: SparkSession, dir: String): DataFrame =
    Chat.alternationReportIds(
        Chat.parseConversationsTools(toolIdConvJson(s, dir), "doc_id", "msgs"))
      .orderBy("conv_id")

  val chatToolsIdsSql: String =
    """SELECT doc_id AS conv_id,
      |       CAST(10 AS INTEGER) AS n_turns,
      |       TRUE AS has_system,
      |       doc_id % 17 <> 0 AS starts_user,
      |       doc_id % 17 <> 0 AS alternates,
      |       TRUE AS ends_assistant,
      |       doc_id % 5 <> 0 AND doc_id % 9 <> 0 AND doc_id % 13 <> 0
      |         AND doc_id % 17 <> 0 AS tools_anchored,
      |       doc_id % 5 <> 0 AND doc_id % 9 <> 0 AND doc_id % 13 <> 0
      |         AND doc_id % 17 <> 0 AS valid
      |FROM documents ORDER BY conv_id""".stripMargin

  // ---- id-anchored budget trim over the same fixture: grades the two
  //      cases the positional heuristic gets wrong — a tool result whose
  //      TRUE calling turn survives the cut is KEPT even with a later
  //      assistant in between (d%9 docs at the full budget), and one
  //      whose calling turn was trimmed DROPS even though a later
  //      assistant survived (the same docs at the tight budget). Token
  //      costs 3 + (doc_id+i) mod 5, system 2, budgets {25, 50}. ----
  def chatBudgetToolsIds(s: SparkSession, dir: String): DataFrame = {
    val content = toolIdTurns(s, dir)
      .select(col("doc_id").as("conv_id"), col("i").as("turn_idx"),
        col("role"), col("call_id"), col("calls"),
        (lit(3) + pmod(col("doc_id") + col("i"), lit(5))).cast("long").as("tokens"))
    val sys = Tables.t(s, dir, "documents")
      .select(col("doc_id").as("conv_id"), lit(0).as("turn_idx"),
        lit("system").as("role"), lit(null).cast("string").as("call_id"),
        lit(null).cast("array<string>").as("calls"), lit(2L).as("tokens"))
    val turns = content.unionByName(sys)
    val kept = Seq(25L, 50L).map { b =>
      Chat.contextBudgetTrimIds(turns, b, "tokens").withColumn("budget", lit(b))
    }.reduce(_ unionByName _)
    trimSummary(kept)
  }

  val chatBudgetToolsIdsSql: String =
    s"""WITH t AS (SELECT doc_id AS conv_id, CAST(g.i AS INTEGER) AS i,
      |             CASE WHEN g.i = 1 THEN
      |                    CASE WHEN doc_id % 17 = 0 THEN 'tool' ELSE 'user' END
      |                  WHEN g.i IN (2, 5, 7, 9) THEN 'assistant'
      |                  WHEN g.i = 6 THEN
      |                    CASE WHEN doc_id % 13 = 0 THEN 'tool' ELSE 'user' END
      |                  ELSE 'tool' END AS role,
      |             3 + (doc_id + g.i) % 5 AS len,
      |             -- each tool turn's ID-CARRIER anchor (the trim rule
      |             -- anchors to the assistant carrying the call id, not
      |             -- the run head): 3 -> 2; 4 -> 2 unless the %5
      |             -- unknown-id plant; 8 -> 7, or 2 for the %9
      |             -- earlier-call plant; 6 (%13 plant) -> 2 (c2's
      |             -- carrier); 1 (%17 plant) never anchors
      |             CASE WHEN g.i = 3 THEN 2
      |                  WHEN g.i = 4 AND doc_id % 5 <> 0 THEN 2
      |                  WHEN g.i = 8 THEN
      |                    CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 7 END
      |                  WHEN g.i = 6 AND doc_id % 13 = 0 THEN 2
      |                  ELSE NULL END AS anchor
      |      FROM documents CROSS JOIN generate_series(1, 9) g(i)),
      |rv AS (SELECT *, sum(len) OVER (PARTITION BY conv_id ORDER BY i DESC)
      |                 AS rev_sum
      |       FROM t),
      |b AS (SELECT CAST(unnest([25, 50]) AS BIGINT) AS budget),
      |sfx AS (SELECT rv.*, b.budget FROM rv CROSS JOIN b
      |        WHERE rev_sum + 2 <= b.budget),
      |$toolTrimTailSql""".stripMargin

  // ---- preference-pair (DPO/RLHF) audits over synthesized pairs ----
  // chosen = tokens 9..9+lenc-1 (lenc = 6 + 3*doc_id mod 9), rejected =
  // tokens 24..24+lenr-1 (lenr = 5 + 7*doc_id mod 7) — a known positive
  // length bias; docs with doc_id % 41 = 0 get one shared canonical
  // chosen string (the planted duplicate-response group). Both slices
  // clamp on short docs, and both engines replay the clamping.
  private def prefPairs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(col("doc_id").as("pair_id"),
        concat(lit("s"), col("doc_id") % 5).as("source"),
        TextFunctions.tokens(col("text")).as("toks"), col("doc_id"))
      .withColumn("lenc", lit(6) + pmod(col("doc_id") * 3, lit(9)))
      .withColumn("lenr", lit(5) + pmod(col("doc_id") * 7, lit(7)))
      .select(col("pair_id"), col("source"),
        when(col("doc_id") % 41 === 0,
          lit("the canonical duplicated response"))
          .otherwise(expr("concat_ws(' ', slice(toks, 9, lenc))")).as("chosen"),
        expr("concat_ws(' ', slice(toks, 24, lenr))").as("rejected"))

  private val prefCte: String =
    """d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]{2,}') AS toks
      |      FROM documents),
      |p AS (SELECT doc_id AS pair_id, 's' || (doc_id % 5) AS source,
      |             CASE WHEN doc_id % 41 = 0
      |                  THEN 'the canonical duplicated response'
      |                  -- array_to_string([]) is NULL in DuckDB, '' in Spark's
      |                  -- concat_ws: coalesce both sides to the Spark semantics
      |                  ELSE coalesce(array_to_string(toks[9 : 8 + 6 + (doc_id * 3) % 9], ' '), '')
      |             END AS chosen,
      |             coalesce(array_to_string(toks[24 : 23 + 5 + (doc_id * 7) % 7], ' '), '') AS rejected
      |      FROM d)""".stripMargin

  /** The length-bias report over `l(source, chosen, rejected, lc, lr)`. */
  private val lengthBiasReportSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(sum(CASE WHEN lc > lr THEN 1 ELSE 0 END) AS BIGINT)
      |         * 1000000 // count(*) AS chosen_longer_ppm,
      |       CAST(sum(lc - lr) AS BIGINT) AS len_delta_sum,
      |       CAST(sum(CASE WHEN chosen = rejected THEN 1 ELSE 0 END) AS BIGINT)
      |         * 1000000 // count(*) AS identical_ppm
      |FROM l GROUP BY source ORDER BY source""".stripMargin

  def prefBias(s: SparkSession, dir: String): DataFrame =
    graft.operators.Preference.lengthBiasReport(
      prefPairs(s, dir), "source", "chosen", "rejected").orderBy("source")

  val prefBiasSql: String =
    s"""WITH $prefCte,
      |l AS (SELECT source, chosen, rejected,
      |             len(regexp_extract_all(chosen, '[a-z0-9_]{2,}')) AS lc,
      |             len(regexp_extract_all(rejected, '[a-z0-9_]{2,}')) AS lr
      |      FROM p)
      |$lengthBiasReportSql""".stripMargin

  def prefDups(s: SparkSession, dir: String): DataFrame =
    graft.operators.Preference.duplicateResponses(
      prefPairs(s, dir), "pair_id", "chosen").orderBy("resp_sha")

  val prefDupsSql: String =
    s"""WITH $prefCte
      |SELECT sha256(chosen) AS resp_sha, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(min(pair_id) AS BIGINT) AS first_pair_id
      |FROM p GROUP BY 1 HAVING count(*) >= 2
      |ORDER BY resp_sha""".stripMargin

  // ---- preference-pair CONSTRUCTION (the audits' producer side) ----
  // K=4 ranked responses per prompt: response k = a token slice whose
  // length varies with (doc_id, k), score = (doc_id + 7k) mod 10 (ties
  // happen and must never pair); docs with doc_id % 41 = 0 share ONE
  // canonical text between k=1,2 — whichever scores lower can never be
  // paired against the other (content-identical pair, dropped).
  private def prefResponses(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), lit(4))).as("k"))
      .withColumn("lenk", lit(4) + pmod(col("doc_id") * col("k"), lit(6)))
      .select(col("doc_id").as("prompt_id"), col("k").as("resp_id"),
        when(col("doc_id") % 41 === 0 && col("k") <= 2,
          lit("the canonical duplicated response"))
          .otherwise(expr("concat_ws(' ', slice(toks, 5 * k, lenk))")).as("resp"),
        pmod(col("doc_id") + lit(7) * col("k"), lit(10)).cast("long").as("sc"))

  private val prefRespCte: String =
    """d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]{2,}') AS toks
      |      FROM documents),
      |r AS (SELECT doc_id AS prompt_id, CAST(g.k AS INTEGER) AS resp_id,
      |             CASE WHEN doc_id % 41 = 0 AND g.k <= 2
      |                  THEN 'the canonical duplicated response'
      |                  ELSE coalesce(array_to_string(
      |                         toks[5 * g.k : 5 * g.k - 1 + 4 + (doc_id * g.k) % 6], ' '), '')
      |             END AS resp,
      |             CAST((doc_id + 7 * g.k) % 10 AS BIGINT) AS sc
      |      FROM d CROSS JOIN generate_series(1, 4) g(k))""".stripMargin

  def prefBuild(s: SparkSession, dir: String): DataFrame =
    graft.operators.Preference.buildPairs(
        prefResponses(s, dir), "prompt_id", "resp_id", "resp", "sc")
      .select("prompt_id", "chosen_id", "rejected_id", "margin")
      .orderBy("prompt_id", "rejected_id")

  val prefBuildSql: String =
    s"""WITH $prefRespCte,
      |best AS (SELECT * FROM (
      |           SELECT r.*, row_number() OVER (PARTITION BY prompt_id
      |                         ORDER BY sc DESC, resp_id ASC) AS rn FROM r)
      |         WHERE rn = 1)
      |SELECT b.prompt_id, b.resp_id AS chosen_id, r.resp_id AS rejected_id,
      |       CAST(b.sc - r.sc AS BIGINT) AS margin
      |FROM best b JOIN r ON r.prompt_id = b.prompt_id
      |WHERE b.sc > r.sc AND sha256(b.resp) <> sha256(r.resp)
      |ORDER BY b.prompt_id, rejected_id""".stripMargin

  // ---- producer -> audit composition: build all-ordered pairs, then
  // run the length-bias audit on what was built (identical_ppm must be 0
  // by construction — buildPairs drops content-identical pairs) ----
  def pipelinePref(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Preference.buildPairs(
        prefResponses(s, dir), "prompt_id", "resp_id", "resp", "sc",
        bestVsRest = false)
      .withColumn("source", concat(lit("s"), col("prompt_id") % 5))
    graft.operators.Preference.lengthBiasReport(
      pairs, "source", "chosen", "rejected").orderBy("source")
  }

  val pipelinePrefSql: String =
    s"""WITH $prefRespCte,
      |p AS (SELECT a.prompt_id, a.resp AS chosen, b.resp AS rejected
      |      FROM r a JOIN r b ON a.prompt_id = b.prompt_id
      |      WHERE a.sc > b.sc AND sha256(a.resp) <> sha256(b.resp)),
      |l AS (SELECT 's' || (prompt_id % 5) AS source, chosen, rejected,
      |             len(regexp_extract_all(chosen, '[a-z0-9_]{2,}')) AS lc,
      |             len(regexp_extract_all(rejected, '[a-z0-9_]{2,}')) AS lr
      |      FROM p)
      |$lengthBiasReportSql""".stripMargin

  val graded: Seq[Graded] = Seq(
    Graded("q_chat_validate", chatValidate, chatValidateSql,
      "chat structural audit: from_json parse + per-conversation role-array HOFs, conversation-keyed agg only"),
    Graded("q_chat_budget", chatBudget, chatBudgetSql,
      "chat budget trim: conversation-keyed reverse running sum + user-alignment cut — two windows, one exchange"),
    Graded("q_chat_tools", chatTools, chatToolsSql,
      "tool-role audit: JSON roundtrip + conversation-keyed agg, role-grammar HOF (tool only after assistant) — per-key state bounded by context length"),
    Graded("q_chat_budget_tools", chatBudgetTools, chatBudgetToolsSql,
      "tool-aware budget trim: anchor window (nearest preceding assistant) + reverse-sum suffix + user-aligned cut + orphan-tool drop — all conversation-keyed windows, context-length-bounded state"),
    Graded("q_chat_tools_ids", chatToolsIds, chatToolsIdsSql,
      "id-matched tool audit: JSON roundtrip with call-id columns; parallel-result runs verified BY ID against the run-head assistant's call list (window-carried, no self-join) — conversation-keyed, context-length-bounded"),
    Graded("q_chat_budget_tools_ids", chatBudgetToolsIds, chatBudgetToolsIdsSql,
      "id-anchored budget trim: tool anchors resolve to the assistant CARRYING the call id (window-collected carrier list + array HOF), suffix + user-aligned cut unchanged — all conversation-keyed windows"),
    Graded("q_pref_bias", prefBias, prefBiasSql,
      "DPO length-bias audit: narrow token-count projection + ONE source-keyed combiner-collapsed agg"),
    Graded("q_pref_dups", prefDups, prefDupsSql,
      "duplicate-response audit: sha256-keyed agg, output dup-group-sized"),
    Graded("q_pref_build", prefBuild, prefBuildSql,
      "DPO pair construction: prompt-keyed window (best) + prompt-keyed self-join bounded by K responses/prompt, content-identical pairs dropped via sha"),
    Graded("q_pipeline_pref", pipelinePref, pipelinePrefSql,
      "producer->audit composition: buildPairs (all ordered, prompt-keyed K^2) into the length-bias combiner-collapsed agg; identical_ppm 0 by construction"))
}
