package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.operators.Ranking
import graft.sources.Tables

/** Round-5 wave: the curation stages between "filtered corpus" and
  * "training shards" — URL-level curation, GPT-style block packing,
  * token-balanced shard assignment, PQ asymmetric-distance search,
  * preference-pair construction, chat-template rendering, and the
  * deterministic stratified interleave that orders an epoch.
  */
object Curation5 {

  import graft.functions.TextFunctions.{mdHash, words}

  /** URL curation (the Common Crawl triage stage): normalize raw URLs
    * (lowercase scheme+host only, strip fragment / default :443 port /
    * `www.` / `utm_*` tracking params / trailing slash), extract the
    * registrable domain (last two labels; three under the `.co.uk`
    * public suffix), and enforce a per-domain document cap (keep the 3
    * longest docs per domain). The harness tables carry no URL column,
    * so both engines derive the same synthetic messy URL from
    * (doc_id, source) — the operators under test are the normalizer,
    * the domain extractor, and the cap, all per-row expressions plus
    * one keyed window: scan-parallel at any corpus size.
    */
  private val q180UrlCuration: Q = (s, d) => {
    val id = col("doc_id")
    val sub = when(id % 3 === 0, lit("WWW.")).when(id % 3 === 1, lit("cdn."))
      .otherwise(lit(""))
    val tld = when(id % 4 === 0, lit(".co.uk")).when(id % 4 === 1, lit(".com"))
      .when(id % 4 === 2, lit(".org")).otherwise(lit(".net"))
    val port = when(id % 9 === 0, lit(":443")).otherwise(lit(""))
    val slash = when(id % 6 === 0, lit("/")).otherwise(lit(""))
    val qs = when(id % 7 === 0, concat(lit("?utm_source=feed&id="), (id % 10).cast("string")))
      .when(id % 7 === 3, concat(lit("?id="), (id % 10).cast("string"), lit("&utm_campaign=x")))
      .when(id % 7 === 5, lit("?utm_medium=a")).otherwise(lit(""))
    val frag = when(id % 8 === 0, lit("#Sec2")).otherwise(lit(""))
    val url = concat(lit("HTTPS://"), sub, col("source"), tld, port,
      lit("/Page/"), id.cast("string"), slash, qs, frag)

    // group-ref-free normalization chain (identical regex dialect
    // subset in Java and RE2): path case is PRESERVED, only the
    // scheme//host prefix is lowercased
    def norm(u: Column): Column = {
      val noFrag = regexp_replace(u, "#.*$", "")
      val lowered = concat(lower(regexp_extract(noFrag, "^([^/]*//[^/]*)", 1)),
        regexp_replace(noFrag, "^[^/]*//[^/]*", ""))
      val noPort = replace(lowered, lit(":443/"), lit("/"))
      val noWww = replace(noPort, lit("://www."), lit("://"))
      val u1 = regexp_replace(noWww, "&utm_[a-z]+=[A-Za-z0-9]*", "")
      val u2 = regexp_replace(u1, "[?]utm_[a-z]+=[A-Za-z0-9]*&", "?")
      val u3 = regexp_replace(u2, "[?]utm_[a-z]+=[A-Za-z0-9]*$", "")
      val u4 = replace(u3, lit("/?"), lit("?"))
      regexp_replace(u4, "/$", "")
    }

    val withUrl = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), norm(url).as("nurl"))
    val host = regexp_extract(col("nurl"), "^https://([^/?]*)", 1)
    val parts = split(host, "[.]")
    val n = size(parts)
    val dom = when(host.endsWith(".co.uk"), concat_ws(".", slice(parts, n - 2, lit(3))))
      .otherwise(concat_ws(".", slice(parts, n - 1, lit(2))))
    val rn = row_number().over(
      Window.partitionBy("domain").orderBy(col("n_chars").desc, col("doc_id")))
    withUrl.select(col("doc_id"), col("n_chars"), col("nurl"), dom.as("domain"))
      .withColumn("rn", rn)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") <= 3, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") <= 3, mdHash(col("nurl")))).as("kept_hash_sum"),
        min(when(col("rn") <= 3, col("nurl"))).as("first_url"))
      .orderBy("domain")
  }

  /** GPT-style cross-document block packing: per source, documents in
    * doc_id order are concatenated with an `<eos>` sentinel and the
    * global token stream is cut into fixed 128-token blocks — the
    * pretraining example construction where examples cross document
    * boundaries. Offsets come from a per-source window cumsum (doc
    * grain), positions from one posexplode, block assembly from one
    * (source, block) shuffle; nothing is corpus-global, so the packing
    * shards by source at any scale. Each block is pinned by an
    * order-exact content hash.
    */
  private val q181BlockPacking: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        concat(words(col("text")), array(lit("<eos>"))).as("toks"))
      .withColumn("len", size(col("toks")).cast(LongType))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.withColumn("off", coalesce(sum(col("len")).over(w), lit(0L)))
      .select(col("source"), col("off"), posexplode(col("toks")).as(Seq("p", "tok")))
      .select(col("source"), (col("off") + col("p")).as("gpos"), col("tok"))
      .withColumn("block", expr("gpos DIV 128"))
      .groupBy("source", "block")
      .agg(count(lit(1)).as("n_toks"),
        mdHash(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("gpos"), col("tok")))),
            x => x.getField("tok")))).as("block_hash"))
      .orderBy("source", "block")
  }

  /** Token-balanced shard assignment (the training-shard writer's
    * balancing pass): rank all documents by token count descending and
    * deal them round-robin over 8 shards — the classic LPT-style
    * greedy that bounds shard skew. The global rank comes from
    * [[Ranking.globalRank]] (range-repartitioned sort + per-bucket
    * window + bucket offsets), NOT a single-partition window, so the
    * ordering step scales like a terasort. Output pins the exact
    * assignment via a per-shard id-hash sum.
    */
  private val q182ShardBalance: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), size(words(col("text"))).cast(LongType).as("n_tok"))
    Ranking.globalRank(docs, "rank", col("n_tok").desc, col("doc_id").asc)
      .withColumn("shard", (col("rank") - 1) % 8)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"),
        // mod keeps the per-shard sum far inside BIGINT at any shard size
        sum(mdHash(col("doc_id")) % 1000000007L).as("id_hash_sum"))
      .orderBy("shard")
  }

  /** Product-quantization asymmetric-distance search (the ANN serving
    * tier over the q147 encoding): corpus vectors are stored only as
    * 8 sub-codes; a query computes its 8×16 distance table to the
    * codebook once (a broadcastable few-KB block) and every corpus
    * distance is then 8 table lookups — the corpus never ships full
    * vectors. Codebook and query tables are broadcast; the corpus side
    * is one encode shuffle and one (query, corpus) partial-agg sum;
    * top-3 by row_number (the WindowTopKRule shape). Exact-tier
    * arithmetic is DECIMAL so ranking ties cannot drift across engines.
    */
  private val q183PqSearch: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("e"))
    val sub = e
      .select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("s"), col("e"))
      .select(col("vec_id"), col("s"), slice(col("e"), col("s") * 8 + 1, lit(8)).as("v"))
    val cents = sub.filter(col("vec_id") < 16)
      .select(col("s"), col("vec_id").cast("int").as("cid"), col("v").as("c"))
    def d2 = aggregate(zip_with(col("v"), col("c"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    val codes = sub.filter(!(col("vec_id") % 100 === 7 && col("vec_id") < 1000))
      .join(broadcast(cents), Seq("s"))
      .select(col("vec_id").as("x_id"), col("s"), col("cid"), d2.as("d2"))
      .groupBy("x_id", "s").agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("x_id"), col("s"), col("m.cid").as("code"))
    val qd = sub.filter(col("vec_id") % 100 === 7 && col("vec_id") < 1000)
      .join(broadcast(cents), Seq("s"))
      .select(col("vec_id").as("q_id"), col("s").as("qs"), col("cid").as("qcid"),
        d2.cast(DecimalType(25, 12)).as("qd2"))
    val dist = codes.join(broadcast(qd),
        codes("s") === qd("qs") && codes("code") === qd("qcid"))
      .groupBy("q_id", "x_id").agg(sum(col("qd2")).as("dist"))
    dist.withColumn("rnk",
        row_number().over(Window.partitionBy("q_id").orderBy(col("dist").asc, col("x_id").asc)))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"), col("x_id"),
        round(col("dist").cast(DoubleType), 6).as("dist"))
      .orderBy("q_id", "rnk")
  }

  /** RLHF preference-pair construction: per (user, event_type), the
    * highest-valued event becomes `chosen` and the lowest `rejected`,
    * kept only when the margin clears a confidence floor (≥ 100).
    * One partial-aggregable min/max-struct shuffle — no window, no
    * per-group sort — so pair mining runs at corpus scale; ties break
    * on event_id through the struct ordering.
    */
  private val q184PreferencePairs: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"),
        max(struct(col("value"), col("event_id"))).as("hi"),
        min(struct(col("value"), col("event_id"))).as("lo"))
      .filter(col("n") >= 2 && col("hi.value") - col("lo.value") >= 100.0)
      .select(col("user_id"), col("event_type"),
        col("hi.event_id").as("chosen_id"), col("lo.event_id").as("rejected_id"),
        round(col("hi.value") - col("lo.value"), 6).as("margin"))
      .orderBy("user_id", "event_type")

  /** Chat-template rendering (SFT example construction): each user's
    * event stream becomes a conversation — turns in event_id order,
    * roles alternating `<|user|>` / `<|assistant|>` by absolute turn
    * parity, truncated to the LAST 6 turns (the context-window
    * truncation that keeps the most recent exchange). Values ride as
    * integer cents so the rendered string is engine-exact. One
    * ordered-collect per user (conversation-bounded, never
    * corpus-bounded state), then pure per-row expressions.
    */
  private val q185ChatRender: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
      col("event_type"), floor(col("value") * 100).cast(LongType).as("cents"))
    val agg = ev.groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("event_id"), col("event_type"), col("cents")))).as("turns"))
    val n = size(col("turns"))
    val start = greatest(lit(1), n - 5)
    val rendered = concat_ws(" ", transform(slice(col("turns"), start, lit(6)),
      (x, i) => concat(
        when((start + i) % 2 === 1, lit("<|user|>")).otherwise(lit("<|assistant|>")),
        x.getField("event_type"), lit("#"), x.getField("cents").cast("string"))))
    agg.select(col("user_id"), n.cast(LongType).as("n_turns"),
        least(n, lit(6)).cast(LongType).as("n_kept"),
        mdHash(rendered).as("convo_hash"),
        substring(rendered, 1, 40).as("head"))
      .orderBy("user_id")
  }

  /** Deterministic stratified interleave (epoch data ordering): within
    * each language stratum documents are shuffled by hash, then every
    * doc gets the fractional position (rank − ½)/|stratum| and the
    * global stream orders by that position — languages interleave in
    * proportion to their size with no coordination, the standard
    * deterministic alternative to a global random shuffle. Per-stratum
    * windows only; the final order is a distributed range sort.
    * Emits the first 40 schedule rows.
    */
  private val q186InterleaveSchedule: Q = (s, d) =>
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .withColumn("h", mdHash(col("doc_id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))))
      .withColumn("pos", (col("rn").cast(DoubleType) - 0.5)
        / count(lit(1)).over(Window.partitionBy("lang")))
      .orderBy(col("pos"), col("lang"), col("doc_id"))
      .limit(40)
      .select(round(col("pos"), 6).as("pos"), col("lang"), col("doc_id"), col("rn"))

  val queries: Seq[Query] = Seq(
    Query("q180_url_curation", q180UrlCuration,
      """WITH u AS (SELECT doc_id, n_chars,
        |    'HTTPS://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END ||
        |    source ||
        |    CASE WHEN doc_id % 4 = 0 THEN '.co.uk' WHEN doc_id % 4 = 1 THEN '.com'
        |         WHEN doc_id % 4 = 2 THEN '.org' ELSE '.net' END ||
        |    CASE WHEN doc_id % 9 = 0 THEN ':443' ELSE '' END ||
        |    '/Page/' || doc_id ||
        |    CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed&id=' || (doc_id % 10)
        |         WHEN doc_id % 7 = 3 THEN '?id=' || (doc_id % 10) || '&utm_campaign=x'
        |         WHEN doc_id % 7 = 5 THEN '?utm_medium=a' ELSE '' END ||
        |    CASE WHEN doc_id % 8 = 0 THEN '#Sec2' ELSE '' END AS url
        |  FROM documents),
        |n1 AS (SELECT doc_id, n_chars, regexp_replace(url, '#.*$', '', 'g') u FROM u),
        |n2 AS (SELECT doc_id, n_chars,
        |  lower(regexp_extract(u, '^([^/]*//[^/]*)', 1)) ||
        |    regexp_replace(u, '^[^/]*//[^/]*', '') u FROM n1),
        |n3 AS (SELECT doc_id, n_chars,
        |  replace(replace(u, ':443/', '/'), '://www.', '://') u FROM n2),
        |n4 AS (SELECT doc_id, n_chars,
        |  regexp_replace(regexp_replace(regexp_replace(u,
        |    '&utm_[a-z]+=[A-Za-z0-9]*', '', 'g'),
        |    '[?]utm_[a-z]+=[A-Za-z0-9]*&', '?', 'g'),
        |    '[?]utm_[a-z]+=[A-Za-z0-9]*$', '', 'g') u FROM n3),
        |n5 AS (SELECT doc_id, n_chars,
        |  regexp_replace(replace(u, '/?', '?'), '/$', '', 'g') nurl FROM n4),
        |h AS (SELECT doc_id, n_chars, nurl,
        |  regexp_extract(nurl, '^https://([^/?]*)', 1) host FROM n5),
        |dm AS (SELECT doc_id, n_chars, nurl,
        |  CASE WHEN host LIKE '%.co.uk'
        |    THEN array_to_string(list_slice(string_split(host, '.'),
        |      len(string_split(host, '.')) - 2, len(string_split(host, '.'))), '.')
        |    ELSE array_to_string(list_slice(string_split(host, '.'),
        |      len(string_split(host, '.')) - 1, len(string_split(host, '.'))), '.')
        |  END AS domain FROM h),
        |r AS (SELECT *, row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id) rn FROM dm)
        |SELECT domain, count(*) AS n_docs,
        |  CAST(count(*) FILTER (WHERE rn <= 3) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn <= 3 THEN ('0x' || substr(md5(nurl), 1, 15))::BIGINT END) AS BIGINT) AS kept_hash_sum,
        |  min(CASE WHEN rn <= 3 THEN nurl END) AS first_url
        |FROM r GROUP BY domain ORDER BY domain""".stripMargin),
    Query("q181_block_packing", q181BlockPacking,
      """WITH t AS (SELECT source, doc_id,
        |    list_append(string_split(text, ' '), '<eos>') toks FROM documents),
        |o AS (SELECT source, doc_id, toks, len(toks) l,
        |  coalesce(sum(len(toks)) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) ofs FROM t),
        |e AS (SELECT source, ofs + p AS gpos, toks[p + 1] AS tok
        |  FROM o, unnest(range(0, l)) AS u(p))
        |SELECT source, CAST(gpos // 128 AS BIGINT) AS block, count(*) AS n_toks,
        |  ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY gpos)), 1, 15))::BIGINT AS block_hash
        |FROM e GROUP BY source, CAST(gpos // 128 AS BIGINT)
        |ORDER BY source, block""".stripMargin),
    Query("q182_shard_balance", q182ShardBalance,
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) n_tok FROM documents),
        |r AS (SELECT doc_id, n_tok,
        |  row_number() OVER (ORDER BY n_tok DESC, doc_id) rnk FROM t)
        |SELECT CAST((rnk - 1) % 8 AS BIGINT) AS shard, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS tok_sum,
        |  CAST(sum(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000007) AS BIGINT) AS id_hash_sum
        |FROM r GROUP BY CAST((rnk - 1) % 8 AS BIGINT) ORDER BY shard""".stripMargin),
    Query("q183_pq_search", q183PqSearch,
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) e FROM embeddings),
        |sub AS (SELECT vec_id, s, e[s*8+1 : s*8+8] AS sv
        |  FROM v, (SELECT unnest(range(0, 8)) s) ss),
        |cents AS (SELECT s, vec_id::INT cid, sv c FROM sub WHERE vec_id < 16),
        |dist AS (SELECT t.vec_id, t.s, c.cid,
        |    list_sum([(t.sv[i] - c.c[i]) * (t.sv[i] - c.c[i]) for i in range(1, 9)]) d2
        |  FROM sub t JOIN cents c USING (s) WHERE NOT (t.vec_id % 100 = 7 AND t.vec_id < 1000)),
        |best AS (SELECT vec_id AS x_id, s, cid AS code FROM (
        |    SELECT vec_id, s, cid,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) rn FROM dist)
        |  WHERE rn = 1),
        |qd AS (SELECT t.vec_id q_id, t.s, c.cid,
        |    CAST(list_sum([(t.sv[i] - c.c[i]) * (t.sv[i] - c.c[i]) for i in range(1, 9)])
        |      AS DECIMAL(25,12)) qd2
        |  FROM sub t JOIN cents c USING (s) WHERE t.vec_id % 100 = 7 AND t.vec_id < 1000),
        |pd AS (SELECT q.q_id, b.x_id, sum(q.qd2) dist
        |  FROM best b JOIN qd q ON q.s = b.s AND q.cid = b.code GROUP BY 1, 2),
        |rk AS (SELECT q_id, x_id, dist,
        |  row_number() OVER (PARTITION BY q_id ORDER BY dist, x_id) rnk FROM pd)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, x_id,
        |  round(CAST(dist AS DOUBLE), 6) AS dist
        |FROM rk WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin),
    Query("q184_preference_pairs", q184PreferencePairs,
      """WITH a AS (SELECT user_id, event_type, value, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY value DESC, event_id DESC) rh,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY value, event_id) rl,
        |    count(*) OVER (PARTITION BY user_id, event_type) c FROM events),
        |h AS (SELECT user_id, event_type, event_id chosen_id, value hv, c FROM a WHERE rh = 1),
        |l AS (SELECT user_id, event_type, event_id rejected_id, value lv FROM a WHERE rl = 1)
        |SELECT h.user_id, h.event_type, chosen_id, rejected_id,
        |  round(hv - lv, 6) AS margin
        |FROM h JOIN l USING (user_id, event_type)
        |WHERE c >= 2 AND hv - lv >= 100.0
        |ORDER BY user_id, event_type""".stripMargin),
    Query("q185_chat_render", q185ChatRender,
      """WITH r AS (SELECT user_id, event_id, event_type,
        |    CAST(floor(value * 100) AS BIGINT) cents,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) rn,
        |    count(*) OVER (PARTITION BY user_id) cnt FROM events),
        |k AS (SELECT * FROM r WHERE rn > cnt - 6)
        |SELECT user_id, CAST(max(cnt) AS BIGINT) AS n_turns,
        |  count(*) AS n_kept,
        |  ('0x' || substr(md5(string_agg(
        |    CASE WHEN rn % 2 = 1 THEN '<|user|>' ELSE '<|assistant|>' END
        |      || event_type || '#' || cents, ' ' ORDER BY rn)), 1, 15))::BIGINT AS convo_hash,
        |  substr(string_agg(
        |    CASE WHEN rn % 2 = 1 THEN '<|user|>' ELSE '<|assistant|>' END
        |      || event_type || '#' || cents, ' ' ORDER BY rn), 1, 40) AS head
        |FROM k GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q186_interleave_schedule", q186InterleaveSchedule,
      """WITH t AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT h FROM documents),
        |r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) rn,
        |  count(*) OVER (PARTITION BY lang) cnt FROM t)
        |SELECT round((CAST(rn AS DOUBLE) - 0.5) / cnt, 6) AS pos, lang, doc_id,
        |  CAST(rn AS BIGINT) AS rn
        |FROM r ORDER BY (CAST(rn AS DOUBLE) - 0.5) / cnt, lang, doc_id
        |LIMIT 40""".stripMargin))
}
