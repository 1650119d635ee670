package graft

import graft.model.EventView
import graft.transform.TransformRunner
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog entries for the transform layer — one per pipeline action of
  * SURVEY §2.5 plus end-to-end interpreter pipelines (§2.4) and templates
  * (§2.6).
  *
  * Every entry runs the [[graft.transform.TransformRunner]] interpreter,
  * the one implementation of the actions that subscriptions execute, so
  * the DuckDB oracles check the delivery path's code. The action entries
  * run a pipeline over a table and project their columns from the
  * rendered body. Each view is sorted on its key BEFORE the interpreter,
  * so every row passes through the interpreter once and the results come
  * out in key order (see [[eventView]]).
  */
object TransformQueries {
  import Queries.Q

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
  private def events(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)

  /** EventView over the events table, SORTED on its key before the
    * per-row INTERPRETER pipelines ([[TransformRunner]]) run over it.
    * The interpreter keeps each partition's row order, so every entry's
    * result comes out in key order with no sort after the interpreter,
    * which would run it twice: once for the range-partition sample and
    * once for the sort itself (`action_math`: 2.98 s against 1.66 s
    * without that sort, sf0.1, 4 cores). The sample reads only the table
    * scan, because the view's projections sit above the sort, and the
    * range exchange spreads the interpreter over the shuffle partitions
    * (core parallelism), so a one-split table no longer runs it in one
    * task. TransformRunner itself stays at the caller's partitioning —
    * micro-batches arrive pre-split (see its scale note).
    */
  private def eventView(s: SparkSession, d: String): DataFrame =
    EventView.fromEventsTable(events(s, d).orderBy(col("event_id")))

  /** [[eventView]] whose data body carries the row's `value` beside `k`. */
  private def valueEventView(s: SparkSession, d: String): DataFrame =
    EventView.fromEventsTable(events(s, d).orderBy(col("event_id"))
      .withColumn("props", to_json(struct(
        get_json_object(col("props"), "$.k").try_cast("bigint").as("k"),
        col("value")))))

  /** The interpreter's input over `docs`, sorted like [[eventView]]:
    * `doc_id` is the sequence number and the data body holds `cols`. The
    * runner defaults every context attribute the frame lacks.
    */
  private def docView(docs: DataFrame, cols: String*): DataFrame =
    docs.orderBy(col("doc_id")).select(col("doc_id").as("sequence_number"),
      to_json(struct(cols.map(col): _*)).as("data"))

  /** Run one pipeline of `commands` (each a JSON command array). */
  private def pipeline(view: DataFrame, commands: String*): DataFrame =
    TransformRunner(view, commands.mkString("""{"pipeline": [""", ", ", "]}"))

  /** The rendered body's member at data path `path` (e.g. `parts[0]`);
    * NULL when an action error left it absent.
    */
  private def bodyAt(path: String): Column = get_json_object(col("body"), "$." + path)

  /** Body members `names` as same-named columns of type `tpe`. */
  private def members(tpe: String, names: String*): Seq[Column] =
    names.map(n => bodyAt(n).cast(tpe).as(n))

  // ===========================================================================
  // interpreter pipelines (define → pipeline → template)
  // ===========================================================================

  /** All six struct actions in one ordered pipeline over the event body.
    * Field order in the output body follows insertion order, which the
    * oracle reproduces literally.
    */
  private val structPipeline = Q(
    "action_structs_pipeline",
    (s, d) => {
      val spec = """{
        "pipeline": [
          {"command": ["create", "$.data.added", "x"]},
          {"command": ["replace", "$.data.added", "y"]},
          {"command": ["duplicate", "$.data.added", "$.data.added2"]},
          {"command": ["rename", "$.data.added2", "$.data.addedR"]},
          {"command": ["math_add", "$.data.sum", "$.data.k", 1]},
          {"command": ["move", "$.data.k", "$.data.kk"]},
          {"command": ["delete", "$.data.added"]}
        ]
      }"""
      TransformRunner(eventView(s, d), spec)
        .select(col("sequence_number").as("event_id"), col("body"))
    },
    Some("""
      SELECT event_id,
             '{"addedR":"y","sum":' || (CAST(json_extract_string(props, '$.k') AS BIGINT) + 1)
               || ',"kk":' || json_extract_string(props, '$.k') || '}' AS body
      FROM events ORDER BY event_id
    """))

  /** JSON template: type-preserving holes, string interpolation, omitted
    * missing member (template/json semantics, transformer_test.go:88-110).
    */
  private val templateJson = Q(
    "template_json",
    (s, d) => {
      val spec = """{
        "define": {"kVal": "$.data.k"},
        "template_type": "json",
        "template": "{ \"eid\": <$.id>, \"etype\": \"<$.type>\", \"k\": <kVal>, \"missing\": <$.data.nope>, \"note\": \"k=<$.data.k>\" }"
      }"""
      TransformRunner(eventView(s, d), spec)
        .select(col("sequence_number").as("event_id"), col("body"))
    },
    Some("""
      SELECT event_id,
             '{"eid":"' || CAST(event_id AS VARCHAR) || '","etype":"' || event_type
               || '","k":' || json_extract_string(props, '$.k')
               || ',"note":"k=' || json_extract_string(props, '$.k') || '"}' AS body
      FROM events ORDER BY event_id
    """))

  /** text template: literal + define + model holes; missing renders nothing */
  private val templateText = Q(
    "template_text",
    (s, d) => {
      val spec = """{
        "template_type": "text",
        "template": "id=<$.id> k=<$.data.k> none=<$.data.nope>"
      }"""
      TransformRunner(eventView(s, d), spec)
        .select(col("sequence_number").as("event_id"), col("body"))
    },
    Some("""
      SELECT event_id,
             'id=' || CAST(event_id AS VARCHAR) || ' k=' || json_extract_string(props, '$.k')
               || ' none=' AS body
      FROM events ORDER BY event_id
    """))

  /** Debezium CDC op → MongoDB bulk-write doc (source/convert_to_mongodb_sink.go).
    * The op comes from the `iodebeziumop` extension, synthesized from
    * event_type; the body is replaced wholesale.
    */
  private val debezium = Q(
    "action_debezium_mongodb_sink",
    (s, d) => {
      val view = eventView(s, d)
        .withColumn("attributes", map(lit("iodebeziumop"),
          when(col("type") === "purchase", "c")
            .when(col("type") === "signup", "r")
            .when(col("type") === "error", "d")
            .otherwise("u")))
      TransformRunner(view, """{"pipeline": [{"command": ["debezium_convert_to_mongodb_sink", "k"]}]}""")
        .select(col("sequence_number").as("event_id"), col("body"))
    },
    Some("""
      SELECT event_id,
        CASE WHEN event_type IN ('purchase', 'signup')
               THEN '{"inserts":[{"k":' || json_extract_string(props, '$.k') || '}]}'
             WHEN event_type = 'error'
               THEN '{"deletes":[{"filter":{"k":' || json_extract_string(props, '$.k') || '}}]}'
             ELSE '{"updates":[{"filter":{"k":' || json_extract_string(props, '$.k')
                  || '},"update":{"$set":{}}}]}'
        END AS body
      FROM events ORDER BY event_id
    """))

  // ===========================================================================
  // math actions
  // ===========================================================================

  private val mathQ = Q(
    "action_math",
    (s, d) => pipeline(valueEventView(s, d),
      """["math_add", "$.data.m_add", "$.data.k", "$.data.value", 1]""",
      """["math_sub", "$.data.m_sub", "$.data.value", "$.data.k"]""",
      """["math_mul", "$.data.m_mul", "$.data.k", 2]""",
      """["math_div", "$.data.m_div", "$.data.value", 4]""",
      // k = 0 is a division-by-zero action error: the member stays absent
      """["math_div", "$.data.m_div_guard", "$.data.value", "$.data.k"]""")
      .select(col("sequence_number").as("event_id") +:
        members("double", "m_add", "m_sub", "m_mul", "m_div", "m_div_guard"): _*),
    Some("""
      SELECT event_id,
             (CAST(json_extract_string(props, '$.k') AS DOUBLE) + value) + 1 AS m_add,
             value - CAST(json_extract_string(props, '$.k') AS DOUBLE) AS m_sub,
             CAST(json_extract_string(props, '$.k') AS DOUBLE) * 2 AS m_mul,
             value / 4 AS m_div,
             CASE WHEN CAST(json_extract_string(props, '$.k') AS DOUBLE) = 0 THEN NULL
                  ELSE value / CAST(json_extract_string(props, '$.k') AS DOUBLE) END AS m_div_guard
      FROM events ORDER BY event_id
    """))

  // ===========================================================================
  // datetime actions
  // ===========================================================================

  /** date_format and convert_timezone rewrite their argument in place, so
    * each formats a copy of the event's `time` attribute (RFC3339 text).
    */
  private val datetimeQ = Q(
    "action_datetime",
    (s, d) => pipeline(eventView(s, d),
      """["duplicate", "$.time", "$.data.dt_fmt"]""",
      """["date_format", "$.data.dt_fmt", "Y-m-d H:i"]""",
      """["duplicate", "$.data.k", "$.data.dt_unix"]""",
      """["unix_time_format", "$.data.dt_unix", "Y-m-d H:i:s"]""",
      """["duplicate", "$.time", "$.data.dt_tz"]""",
      """["date_format", "$.data.dt_tz", "Y-m-d H:i:s"]""",
      """["convert_timezone", "$.data.dt_tz", "UTC", "Asia/Shanghai"]""")
      .select(col("sequence_number").as("event_id") +:
        members("string", "dt_fmt", "dt_unix", "dt_tz"): _*),
    Some("""
      SELECT event_id,
             strftime(ts, '%Y-%m-%d %H:%M') AS dt_fmt,
             strftime(to_timestamp(CAST(json_extract_string(props, '$.k') AS BIGINT)),
                      '%Y-%m-%d %H:%M:%S') AS dt_unix,
             strftime(timezone('Asia/Shanghai', timezone('UTC', ts)),
                      '%Y-%m-%d %H:%M:%S') AS dt_tz
      FROM events ORDER BY event_id
    """))

  // ===========================================================================
  // string actions over documents
  // ===========================================================================

  private val caseQ = Q(
    "action_case",
    (s, d) => pipeline(docView(docs(s, d), "text"),
      """["duplicate", "$.data.text", "$.data.s_upper"]""",
      """["upper_case", "$.data.s_upper"]""",
      """["duplicate", "$.data.s_upper", "$.data.s_lower"]""",
      """["lower_case", "$.data.s_lower"]""",
      """["duplicate", "$.data.text", "$.data.s_cap_sentence"]""",
      """["capitalize_sentence", "$.data.s_cap_sentence"]""",
      """["duplicate", "$.data.text", "$.data.s_cap_word"]""",
      """["capitalize_word", "$.data.s_cap_word"]""")
      .select(col("sequence_number").as("doc_id") +:
        members("string", "s_upper", "s_lower", "s_cap_sentence", "s_cap_word"): _*),
    Some("""
      SELECT doc_id,
             UPPER(text) AS s_upper,
             LOWER(UPPER(text)) AS s_lower,
             UPPER(text[1]) || text[2:] AS s_cap_sentence,
             array_to_string(list_transform(string_split(text, ' '),
               w -> UPPER(w[1]) || w[2:]), ' ') AS s_cap_word
      FROM documents ORDER BY doc_id
    """))

  private val affixQ = Q(
    "action_affix",
    (s, d) => pipeline(docView(docs(s, d), "text"),
      """["duplicate", "$.data.text", "$.data.s_prefixed"]""",
      """["add_prefix", "$.data.s_prefixed", "doc: "]""",
      """["duplicate", "$.data.text", "$.data.s_suffixed"]""",
      """["add_suffix", "$.data.s_suffixed", "!"]""")
      .select(col("sequence_number").as("doc_id") +:
        members("string", "s_prefixed", "s_suffixed"): _*),
    Some("""
      SELECT doc_id, 'doc: ' || text AS s_prefixed, text || '!' AS s_suffixed
      FROM documents ORDER BY doc_id
    """))

  private val joinQ = Q(
    "action_join",
    (s, d) => pipeline(docView(docs(s, d), "text"),
      """["split_with_delimiter", "$.data.text", " ", "$.data.words"]""",
      """["join", "$.data.s_joined", "-", "$.data.words"]""")
      .select(col("sequence_number").as("doc_id") +: members("string", "s_joined"): _*),
    Some("""
      SELECT doc_id, REPLACE(text, ' ', '-') AS s_joined
      FROM documents ORDER BY doc_id
    """))

  private val replaceQ = Q(
    "action_replace",
    (s, d) => pipeline(docView(docs(s, d), "text"),
      """["duplicate", "$.data.text", "$.data.s_replaced"]""",
      """["replace_string", "$.data.s_replaced", "spark", "SPARK"]""",
      """["duplicate", "$.data.text", "$.data.s_regex"]""",
      """["replace_with_regex", "$.data.s_regex", "[aeiou]", "_"]""")
      .select(col("sequence_number").as("doc_id") +:
        members("string", "s_replaced", "s_regex"): _*),
    Some("""
      SELECT doc_id,
             REPLACE(text, 'spark', 'SPARK') AS s_replaced,
             regexp_replace(text, '[aeiou]', '_', 'g') AS s_regex
      FROM documents ORDER BY doc_id
    """))

  private val spliceQ = Q(
    "action_splice_positions",
    (s, d) => pipeline(docView(docs(s, d).filter(col("n_chars") > 20), "text"),
      """["duplicate", "$.data.text", "$.data.s_spliced"]""",
      """["replace_between_positions", "$.data.s_spliced", 10, 15, "XXXXX"]""",
      """["extract_between_positions", "$.data.text", "$.data.s_extracted", 2, 10]""")
      .select(col("sequence_number").as("doc_id") +:
        members("string", "s_spliced", "s_extracted"): _*),
    Some("""
      SELECT doc_id,
             substr(text, 1, 10) || 'XXXXX' || substr(text, 16) AS s_spliced,
             substr(text, 2, 9) AS s_extracted
      FROM documents WHERE n_chars > 20 ORDER BY doc_id
    """))

  /** Delimiter ops; the oracle walks a rest-substring (DuckDB strpos has no
    * start offset). Only rows where 'join' is followed by 'merge' qualify:
    * elsewhere the extract errors and leaves `s_between` absent (the
    * in-place replace would leave its copy unchanged).
    */
  private val delimsQ = Q(
    "action_delimiters",
    (s, d) => pipeline(docView(docs(s, d), "text"),
      """["extract_between_delimiters", "$.data.text", "$.data.s_between", "join", "merge"]""",
      """["duplicate", "$.data.text", "$.data.s_repl_delims"]""",
      """["replace_between_delimiters", "$.data.s_repl_delims", "join", "merge", "X"]""")
      .select(col("sequence_number").as("doc_id") +:
        members("string", "s_between", "s_repl_delims"): _*)
      .filter(col("s_between").isNotNull),
    Some("""
      SELECT doc_id,
             substr(rest, 1, strpos(rest, 'merge') - 1) AS s_between,
             substr(text, 1, si - 1) || 'X' || substr(rest, strpos(rest, 'merge') + 5) AS s_repl_delims
      FROM (
        SELECT doc_id, text,
               strpos(text, 'join') AS si,
               substr(text, strpos(text, 'join') + 4) AS rest
        FROM documents
      ) WHERE si > 0 AND strpos(rest, 'merge') > 0
      ORDER BY doc_id
    """))

  private val checkQ = Q(
    "action_check_extract_missing",
    (s, d) => pipeline(docView(docs(s, d), "text", "lang"),
      """["check_custom_values", "$.data.text", "spark", "$.data.s_check", "has", "no"]""",
      """["extract_missing", "$.data.lang", "$.data.s_missing", "EMPTY", "FULL"]""")
      .select(col("sequence_number").as("doc_id") +:
        members("string", "s_check", "s_missing"): _*),
    Some("""
      SELECT doc_id,
             CASE WHEN text LIKE '%spark%' THEN 'has' ELSE 'no' END AS s_check,
             CASE WHEN lang = '' THEN 'EMPTY' ELSE 'FULL' END AS s_missing
      FROM documents ORDER BY doc_id
    """))

  private val conditionQ = Q(
    "action_condition_if",
    (s, d) => pipeline(valueEventView(s, d),
      """["condition_if", "$.data.c_ord", "$.data.value", ">=", 100, "hi", "lo"]""",
      """["condition_if", "$.data.c_eq", "$.type", "==", "error", 1, 0]""")
      .select(col("sequence_number").as("event_id") +:
        (members("string", "c_ord") ++ members("int", "c_eq")): _*),
    Some("""
      SELECT event_id,
             CASE WHEN value >= 100 THEN 'hi' ELSE 'lo' END AS c_ord,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS c_eq
      FROM events ORDER BY event_id
    """))

  private val lengthQ = Q(
    "action_length",
    (s, d) => pipeline(docView(docs(s, d), "text"),
      """["length", "$.data.n_len", "$.data.text"]""",
      """["split_with_delimiter", "$.data.text", " ", "$.data.words"]""",
      """["length", "$.data.n_words", "$.data.words"]""")
      .select(col("sequence_number").as("doc_id") +:
        members("bigint", "n_len", "n_words"): _*),
    Some("""
      SELECT doc_id,
             LENGTH(text) AS n_len,
             len(string_split(text, ' ')) AS n_words
      FROM documents ORDER BY doc_id
    """))

  // ===========================================================================
  // split actions
  // ===========================================================================

  private val splitQ = Q(
    "action_split",
    (s, d) => pipeline(docView(docs(s, d), "text"),
      """["split_with_delimiter", "$.data.text", " ", "$.data.parts"]""",
      """["length", "$.data.n_parts", "$.data.parts"]""",
      """["split_from_start", "$.data.text", 5, "$.data.halves"]""")
      .select(col("sequence_number").as("doc_id"),
        bodyAt("n_parts").cast("bigint").as("n_parts"),
        bodyAt("parts[0]").as("s_first"),
        bodyAt("halves[0]").as("s_head"),
        bodyAt("halves[1]").as("s_tail")),
    Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_parts,
             string_split(text, ' ')[1] AS s_first,
             substr(text, 1, 5) AS s_head,
             substr(text, 6) AS s_tail
      FROM documents ORDER BY doc_id
    """))

  private val splitPosQ = Q(
    "action_split_positions",
    (s, d) => pipeline(docView(docs(s, d).filter(col("n_chars") > 12), "text"),
      """["split_between_positions", "$.data.text", 3, 9, "$.data.p"]""",
      """["split_with_intervals", "$.data.text", 5, 7, "$.data.chunks"]""",
      """["length", "$.data.n_chunks", "$.data.chunks"]""")
      .select(col("sequence_number").as("doc_id"),
        bodyAt("p[0]").as("p_a"),
        bodyAt("p[1]").as("p_b"),
        bodyAt("p[2]").as("p_c"),
        bodyAt("n_chunks").cast("bigint").as("n_chunks"),
        bodyAt("chunks[1]").as("s_chunk1")),
    Some("""
      SELECT doc_id,
             substr(text, 1, 3) AS p_a,
             substr(text, 4, 6) AS p_b,
             substr(text, 10) AS p_c,
             1 + CAST(ceil((LENGTH(text) - 5) / 7.0) AS BIGINT) AS n_chunks,
             substr(text, 6, 7) AS s_chunk1
      FROM documents WHERE n_chars > 12 ORDER BY doc_id
    """))

  // ===========================================================================
  // array actions (foreach.go / render.go / unfold_array.go)
  // ===========================================================================

  private val foreachQ = Q(
    "action_array_foreach",
    // each element is its own data root inside the nested command
    (s, d) => pipeline(docView(docs(s, d), "text"),
      """["split_with_delimiter", "$.data.text", " ", "$.data.words"]""",
      """["array_foreach", "$.data.words", ["upper_case", "$.data"]]""",
      """["join", "$.data.s_foreach", " ", "$.data.words"]""")
      .select(col("sequence_number").as("doc_id") +: members("string", "s_foreach"): _*),
    Some("""
      SELECT doc_id, UPPER(text) AS s_foreach
      FROM documents ORDER BY doc_id
    """))

  private val renderQ = Q(
    "action_render_array",
    (s, d) => pipeline(docView(docs(s, d), "text"),
      """["split_with_delimiter", "$.data.text", " ", "$.data.words"]""",
      """["render_array", "$.data.rendered", "$.data.words", "w=<@>"]""",
      """["join", "$.data.s_rendered", ",", "$.data.rendered"]""")
      .select(col("sequence_number").as("doc_id") +: members("string", "s_rendered"): _*),
    Some("""
      SELECT doc_id, 'w=' || REPLACE(text, ' ', ',w=') AS s_rendered
      FROM documents ORDER BY doc_id
    """))

  private val unfoldQ = Q(
    "action_unfold_array",
    (s, d) => pipeline(docView(docs(s, d), "text"),
      """["split_with_delimiter", "$.data.text", " ", "$.data.words"]""",
      """["unfold_array", "$.data.words", "$.data.u"]""")
      .select(col("sequence_number").as("doc_id"),
        bodyAt("u-0").as("u_0"),
        bodyAt("u-1").as("u_1"),
        bodyAt("u-2").as("u_2"))
      // member u-2 exists exactly when the text has at least three words
      .filter(col("u_2").isNotNull),
    Some("""
      SELECT doc_id,
             string_split(text, ' ')[1] AS u_0,
             string_split(text, ' ')[2] AS u_1,
             string_split(text, ' ')[3] AS u_2
      FROM documents WHERE len(string_split(text, ' ')) >= 3 ORDER BY doc_id
    """))

  /** Type recognition for an unspecified template_type (pkg/subscription.go:137-155):
    * first char `{` / `[` / `"` ⇒ JSON template, anything else ⇒ text. The
    * same event set renders through both a sniffed-JSON and a sniffed-text
    * spec (neither declares template_type), through the REAL sniff path.
    * Both passes read one sort of the view (the exchange is reused), so
    * the rows come out as the json block, then the text block, each in
    * key order.
    */
  private val templateSniff = Q(
    "template_sniff",
    (s, d) => {
      val jsonSpec =
        """{"template": "{ \"sniffed\": \"json\", \"k\": <$.data.k> }"}"""
      val textSpec = """{"template": "sniffed text k=<$.data.k>"}"""
      val v = eventView(s, d)
      TransformRunner(v, jsonSpec)
        .select(col("sequence_number").as("event_id"), lit("json").as("sub"),
          col("body"))
        .unionAll(TransformRunner(v, textSpec)
          .select(col("sequence_number").as("event_id"), lit("text").as("sub"),
            col("body")))
    },
    Some("""
      SELECT event_id, sub, body FROM (
        SELECT event_id, 'json' AS sub,
               '{"sniffed":"json","k":' || json_extract_string(props, '$.k') || '}' AS body
        FROM events
        UNION ALL
        SELECT event_id, 'text' AS sub,
               'sniffed text k=' || json_extract_string(props, '$.k') AS body
        FROM events
      ) ORDER BY event_id, sub
    """))

  /** No-template re-serialize (transformer.go:99-108): a transformer with
    * defines+actions but NO template emits the MUTATED data re-rendered as
    * the body. The data body is enriched with nested structure so the
    * round-trip is observable: array deletion, nested in-place string
    * mutation, appended members — preserved member order and value types
    * all sit under the hash (the last §2.4-2.6 row without an oracle,
    * VERDICT r6 #7).
    */
  private val templateNone = Q(
    "template_none",
    (s, d) => {
      val k = get_json_object(col("data"), "$.k")
      val view = eventView(s, d)
        .withColumn("data", concat(
          lit("{\"k\": "), k,
          lit(", \"tags\": [\"a\", \"b\"], \"nested\": {\"s\": \"x"), k,
          lit("\"}}")))
      val spec = """{
        "define": {"kv": "$.data.k"},
        "pipeline": [
          {"command": ["delete", "$.data.tags"]},
          {"command": ["upper_case", "$.data.nested.s"]},
          {"command": ["create", "$.data.note", "ok"]},
          {"command": ["math_add", "$.data.k2", "$.data.k", 10]}
        ]
      }"""
      TransformRunner(view, spec)
        .select(col("sequence_number").as("event_id"), col("body"))
    },
    Some("""
      SELECT event_id,
             '{"k":' || json_extract_string(props, '$.k')
               || ',"nested":{"s":"X' || json_extract_string(props, '$.k')
               || '"},"note":"ok","k2":'
               || (CAST(json_extract_string(props, '$.k') AS BIGINT) + 10)
               || '}' AS body
      FROM events ORDER BY event_id
    """))

  val all: Seq[Q] = Seq(structPipeline, templateJson, templateText, templateSniff,
    templateNone, debezium,
    mathQ, datetimeQ, caseQ, affixQ, joinQ, replaceQ, spliceQ, delimsQ, checkQ,
    conditionQ, lengthQ, splitQ, splitPosQ, foreachQ, renderQ, unfoldQ)
}
