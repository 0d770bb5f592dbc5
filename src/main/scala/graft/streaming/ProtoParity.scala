package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated protobuf decode: events are encoded into SampleMessage
  * wire bytes (test-message.proto:5-10) on the executors, decoded back
  * through [[ProtoCodec]] — the reference's per-record parse seam
  * (KPW:269-277) — and aggregated; DuckDB computes the same aggregate
  * from the raw table. A hash match proves the wire roundtrip is the
  * identity on every row, including absent optional fields. (The
  * byte-level format itself is pinned against the public encoding
  * spec's golden bytes in ProtoCodecSpec, so encode and decode can't
  * share a compensating bug; the streaming path through the pipeline
  * is spec'd there too.)
  */
object ProtoParity {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q81_proto_roundtrip" -> ((s, d) => {
      val enc = udf((q: String, t: Long, pn: Integer, rpp: Integer) =>
        SampleMessageProto.encode(q, t, pn, rpp))
      val encoded = Tables(s, d, "events")
        .select(enc(
          col("event_type"),
          col("event_id"),
          when(col("user_id") % 10 === 0, lit(null))
            .otherwise(col("user_id") % 100).cast("int"),
          when(col("event_id") % 7 === 0, lit(null))
            .otherwise(col("event_id") % 13).cast("int")).as("value"))
      // decode through the codec seam exactly as Pipeline.start does
      val decoded = encoded
        .select(SampleMessageProto.codec.decode(col("value")).as("r"))
        .select(col("r.*"))
      decoded.groupBy(col("page_number"))
        .agg(count(lit(1)).as("n"),
          sum(col("timestamp")).as("sum_ts"),
          count(col("result_per_page")).as("n_rpp"),
          min(col("query")).as("min_query"))
    }),

    // q149: the NESTED/REPEATED proto surface under the gate — each
    // document encodes to a message with a required scalar, a
    // repeated string field (first 5 tokens → ARRAY column), and a
    // nested sub-message (→ STRUCT column), then decodes back through
    // the codec seam; the oracle recomputes every output from the raw
    // table, so a hash match proves ARRAY- and STRUCT-producing
    // decode paths are the identity per row. Scale shape: pure
    // per-row map, zero exchanges — decode is the same single
    // ProtoDecode pass per record as q81, nested levels included.
    "q149_proto_nested_roundtrip" -> ((s, d) => {
      val fs = NestedDocProto.fields
      val enc = udf((id: Long, toks: Seq[String], lang: String, n: Long) =>
        // defensive only — `ws` is coalesced non-null at the call site
        ProtoWire.encode(fs, Seq(id, Option(toks).getOrElse(Seq.empty),
          Seq(lang, n))))
      // null text must take the empty-tokens path INSIDE the relation,
      // not inside the UDF: the `n: Long` parameter is a primitive, so
      // a NULL size(ws) would short-circuit the whole UDF to NULL
      // before the body ever ran (the oracle side is null-safe and
      // emits the row) — coalescing the extracted array to array()
      // keeps slice/size non-null so the UDF always executes
      val encoded = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          coalesce(regexp_extract_all(col("text"), lit("\\S+"), lit(0)),
            array()).as("ws"))
        .select(enc(col("doc_id"), slice(col("ws"), 1, 5), col("lang"),
          size(col("ws")).cast("long")).as("value"))
      val decoded = encoded
        .select(NestedDocProto.codec.decode(col("value")).as("r"))
        .select(col("r.*"))
      decoded.select(col("doc_id"),
        size(col("toks")).as("n_head"),
        md5(concat_ws(" ", col("toks")).cast("binary")).as("head_fp"),
        col("meta.lang").as("lang"),
        col("meta.n_tok").as("n_tok"))
    }),

    // q207: the proto3 MAP surface under the gate — each document's
    // first-8-token term counts become a map<string,int64> field,
    // encoded to entry submessages on the executors and decoded back
    // through the codec seam as a Spark MAP column; the oracle
    // recomputes key count, a probe lookup, and an order-canonical
    // entry fingerprint from the raw table. A hash match proves the
    // MapType decode path (entry merge + defaults) is the identity
    // per row — including the absent-map = empty-map contract on
    // token-less documents. Same zero-exchange per-row map shape as
    // q81/q149.
    "q207_proto_map_roundtrip" -> ((s, d) => {
      val fs = MapDocProto.fields
      // null text → null extracted array → null toks slice: take the
      // empty-map path (the oracle side is null-safe), don't NPE
      val enc = udf((id: Long, toks: Seq[String]) => {
        val counts: Map[String, Long] = Option(toks).getOrElse(Seq.empty)
          .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        ProtoWire.encode(fs, Seq(id, counts))
      })
      val encoded = Tables(s, d, "documents")
        .select(col("doc_id"),
          // non-null by construction (q149 note): keeps the UDF running
          // on null-text rows so the empty-map path actually executes
          coalesce(regexp_extract_all(col("text"), lit("\\S+"), lit(0)),
            array()).as("ws"))
        .select(enc(col("doc_id"), slice(col("ws"), 1, 8)).as("value"))
      val decoded = encoded
        .select(MapDocProto.codec.decode(col("value")).as("r"))
        .select(col("r.*"))
      decoded.select(col("doc_id"),
        size(col("tok_counts")).cast("int").as("n_keys"),
        md5(concat_ws(" ", array_sort(expr(
          "transform(map_entries(tok_counts), e -> concat(e.key, ':', CAST(e.value AS STRING)))")))
          .cast("binary")).as("map_fp"),
        element_at(col("tok_counts"), "the").as("the_cnt"))
    }))

  /** q149's descriptor: the three shapes beyond scalars that
    * `ProtoWriteSupport` handles transitively for the reference —
    * required scalar, repeated scalar, nested message. */
  object NestedDocProto {
    import ProtoType._
    val fields: Seq[ProtoField] = Seq(
      ProtoField(1, "doc_id", Int64, required = true),
      ProtoField(2, "toks", PString, repeated = true),
      ProtoField(3, "meta", PMessage(Seq(
        ProtoField(1, "lang", PString, required = true),
        ProtoField(2, "n_tok", Int64)))))
    def codec: ProtoCodec = ProtoCodec(fields)
  }

  /** q207's descriptor: required scalar + proto3 map<string,int64>. */
  object MapDocProto {
    import ProtoType._
    val fields: Seq[ProtoField] = Seq(
      ProtoField(1, "doc_id", Int64, required = true),
      ProtoField(2, "tok_counts", PMap(PString, Int64)))
    def codec: ProtoCodec = ProtoCodec(fields)
  }

  def oracleSql: Map[String, String] = Map(
    // DuckDB recomputes the per-doc term counts relationally; the
    // fingerprint sorts the same "k:v" strings both engines build, so
    // map iteration order can't leak into the hash. Token-less docs
    // survive via the left join (empty map ⇒ 0 keys, md5('')).
    "q207_proto_map_roundtrip" ->
      """WITH t AS (
        |  SELECT doc_id, ws[1:8] AS head
        |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws
        |        FROM documents)),
        |ex AS (SELECT doc_id, unnest(head) AS tok FROM t),
        |cnt AS (SELECT doc_id, tok || ':' || count(*) AS kv,
        |    CASE WHEN tok = 'the' THEN count(*) END AS the_c
        |  FROM ex GROUP BY doc_id, tok),
        |agg AS (SELECT doc_id,
        |    CAST(count(*) AS INT) AS n_keys,
        |    md5(string_agg(kv, ' ' ORDER BY kv)) AS map_fp,
        |    CAST(max(the_c) AS BIGINT) AS the_cnt
        |  FROM cnt GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(a.n_keys, 0) AS n_keys,
        |  coalesce(a.map_fp, md5('')) AS map_fp,
        |  a.the_cnt
        |FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id""".stripMargin,
    "q149_proto_nested_roundtrip" ->
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_extract_all(text, '\S+') AS ws
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(ws[1:5]) AS INT) AS n_head,
        | md5(array_to_string(ws[1:5], ' ')) AS head_fp,
        | lang,
        | CAST(len(ws) AS BIGINT) AS n_tok
        |FROM t""".stripMargin,

    "q81_proto_roundtrip" ->
      """SELECT CASE WHEN user_id % 10 = 0 THEN NULL
        |   ELSE CAST(user_id % 100 AS INT) END AS page_number,
        | count(*) AS n,
        | CAST(sum(event_id) AS BIGINT) AS sum_ts,
        | count(CASE WHEN event_id % 7 <> 0 THEN 1 END) AS n_rpp,
        | min(event_type) AS min_query
        |FROM events GROUP BY 1""".stripMargin)
}
