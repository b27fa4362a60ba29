package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** L2: cross-document boilerplate SPAN removal — the Lee et al.
  * ("Deduplicating Training Data Makes Language Models Better")
  * exact-substring move at tile granularity: token spans that recur
  * across many documents (headers, footers, license blurbs, nav
  * chrome) are deleted IN PLACE and the remaining text reassembled,
  * instead of dropping whole documents (C1-C5) or only reporting the
  * spans (I5's top-k grams).
  *
  * Mechanics: each doc tiles into fixed W-token spans (the tail tile
  * may be short); a tile whose document frequency reaches the
  * threshold (max(3, n_docs/100) — absolute floor, relative at scale)
  * is boilerplate; every occurrence is removed and the survivors
  * rejoin in original order.
  *
  * Scale shape (100 TB): pass 1 is the corpus-×-tiles doc-frequency
  * aggregate — the same deliberate shuffle class as I3, one row per
  * (tile, doc) pre-distinct. Pass 2 is NARROW: the hot-tile set is by
  * nature small (boilerplate = few distinct strings repeated a lot),
  * so it rides a 1-row broadcast as a sorted array and each doc
  * scrubs ITSELF (tile → subtract → rejoin) — no explode, no
  * reassembly shuffle, no second corpus exchange. The membership
  * probe is a native BINARY SEARCH over the sorted broadcast array
  * ([[graft.plans.SortedExcept]], one fused loop): O(log hotset) per
  * tile, ≤18 compares even at the cap — the round-10 `array_contains`
  * linear scan cost O(hotset) per tile and measured 67× wall at 100×
  * once the relative threshold grew the hot set to ~5k tiles.
  * `HotSetCap` fails loudly if a corpus breaks the "boilerplate is
  * small" premise rather than silently shipping a giant broadcast.
  *
  * Cross-engine exactness: tiling is integer arithmetic (ceil-div
  * tile count, clamped slices), tiles compare as STRINGS, and the
  * threshold is integer — no floats anywhere.
  */
object Boilerplate {

  /** Tile width in tokens. */
  private val W = 3
  /** df threshold: max(AbsFloor, n_docs / RelDiv) — integer division. */
  private val AbsFloor = 3L
  private val RelDiv = 100L
  /** Refuse to broadcast a hot set larger than this. */
  private val HotSetCap = 200000L

  /** Per-row tile array: tokens [i·W, i·W+W) joined by spaces, tail
    * tile short. Pure narrow expression over a text column. */
  private def tilesOf(text: org.apache.spark.sql.Column) = {
    val toks = split(text, " ")
    // ceil-div in INT domain: Column./ on ints is double division, so
    // truncate the positive quotient back (== floor == int div here)
    val nTiles = ((size(toks) + (W - 1)) / W).cast("int")
    transform(sequence(lit(0), nTiles - 1),
      i => array_join(slice(toks, i * W + 1, lit(W)), " "))
  }

  /** The scrub over an arbitrary (doc_id, text) frame: doc_id,
    * clean_text (hot tiles removed, order kept), n_tiles, n_dropped.
    * The `HotSetCap` guard lives IN THE PLAN (a raise_error branch
    * on the 1-row hot aggregate), so a corpus that breaks the
    * "boilerplate is small" premise fails the job loudly instead of
    * silently shipping an unbounded broadcast array. */
  def scrubFrom(documents: DataFrame): DataFrame =
    scrubFrom(documents, HotSetCap)

  private[graft] def scrubFrom(documents: DataFrame, cap: Long): DataFrame = {
    val tiled = documents.select(col("doc_id"), tilesOf(col("text")).as("tiles"))
    // pass 1: tile document frequency (distinct docs per tile) —
    // within-doc dedup happens IN-ROW (array_distinct before the
    // explode), so the (doc_id, tile) stream is already distinct and
    // the former `.distinct()` exchange (a full shuffle of every tile
    // occurrence keyed on (doc_id, tile), ahead of the tile-keyed
    // aggregation's own shuffle) disappears: one exchange instead of
    // two, same df values (guide §2.4 "remove shuffles outright").
    val df = tiled.select(col("doc_id"),
        explode(array_distinct(col("tiles"))).as("tile"))
      .groupBy("tile").agg(count(lit(1)).as("df"))
    val nDocs = documents.select(count(lit(1)).as("n_docs"))
    // hot set as ONE sorted-array row (deterministic; broadcast),
    // cap-guarded in-plan: exceeding the cap raises, never broadcasts
    val hotRow = df.crossJoin(nDocs)
      // integer division on BOTH engines (DuckDB twin uses //)
      .where(col("df") >= greatest(lit(AbsFloor), expr(s"n_docs DIV $RelDiv")))
      .agg(sort_array(collect_list(col("tile"))).as("hot0"))
      .select(
        when(size(col("hot0")) <= cap, col("hot0"))
          .otherwise(raise_error(concat(
            lit("hot boilerplate set "), size(col("hot0")).cast("string"),
            lit(s" exceeds broadcast cap $cap")))).as("hot"))
    // pass 2: narrow in-row scrub — binary-search subtraction against
    // the broadcast SORTED hot array (sort_array above = UTF8 binary
    // order, the order SortedExcept searches in)
    tiled.crossJoin(broadcast(hotRow))
      .select(col("doc_id"), col("tiles"), col("hot"),
        graft.functions.Vectors.sortedExceptFast(
          documents.sparkSession, col("tiles"), col("hot")).as("kept"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("tiles")).cast("long").as("n_tiles"),
        (size(col("tiles")) - size(col("kept"))).cast("long").as("n_dropped"))
      .orderBy("doc_id")
  }

  def scrub(spark: SparkSession, dir: String): DataFrame =
    scrubFrom(Tables.documents(spark, dir))

  /** Hot-set size for the guard/spec (tiny agg, no corpus collect). */
  def hotSetSize(spark: SparkSession, dir: String): Long = {
    val tiled = Tables.documents(spark, dir)
      .select(col("doc_id"), tilesOf(col("text")).as("tiles"))
    val df = tiled.select(col("doc_id"),
        explode(array_distinct(col("tiles"))).as("tile"))
      .groupBy("tile").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).count()
    val sz = df.where(col("df") >= math.max(AbsFloor, n / RelDiv)).count()
    require(sz <= HotSetCap,
      s"hot boilerplate set $sz exceeds broadcast cap $HotSetCap")
    sz
  }

  /** The hot-tile set as a driver-side artifact (sorted, cap-guarded)
    * — the precomputed model a STREAMING scrub applies. Boilerplate
    * statistics come from the corpus, not from the stream: a live doc
    * can't know a tile is boilerplate until many docs carried it, so
    * the production shape is batch-compute the hot set (this), then
    * scrub arrivals statelessly against it. */
  def collectHotSet(spark: SparkSession, dir: String): Seq[String] = {
    val tiled = Tables.documents(spark, dir)
      .select(col("doc_id"), tilesOf(col("text")).as("tiles"))
    val df = tiled.select(col("doc_id"),
        explode(array_distinct(col("tiles"))).as("tile"))
      .groupBy("tile").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).count()
    val hot = df.where(col("df") >= math.max(AbsFloor, n / RelDiv))
      .orderBy("tile").select("tile")
      .limit((HotSetCap + 1).toInt).collect().map(_.getString(0)).toSeq
    require(hot.size <= HotSetCap,
      s"hot boilerplate set exceeds cap $HotSetCap")
    hot
  }

  /** M3: stateless streaming scrub — arriving (doc_id, text) rows
    * scrubbed against a precomputed hot set ([[collectHotSet]]). Pure
    * narrow projection (tile → filter → rejoin per row), so it runs
    * in ANY output mode with no state store and no watermark; the hot
    * set rides the plan as a literal array (same bound as the batch
    * broadcast). Works identically on static frames — the spec pins
    * stream-vs-batch equality. */
  def scrubStream(stream: DataFrame, hot: Seq[String]): DataFrame = {
    // plan-literal hot set, sorted IN THE PLAN (sort_array folds on a
    // literal) so the binary-search contract can't depend on the
    // caller's collection order; typed empty literal for the no-hot
    // case (bare array() would carry a NullType element)
    val hotArr =
      if (hot.isEmpty) lit(Array.empty[String])
      else sort_array(array(hot.map(lit): _*))
    val tiles = tilesOf(col("text"))
    val kept = graft.functions.Vectors.sortedExceptFast(
      stream.sparkSession, col("tiles"), hotArr)
    stream.select(col("doc_id"), tiles.as("tiles"))
      .select(col("doc_id"), kept.as("kept"),
        size(col("tiles")).cast("long").as("n_tiles"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        col("n_tiles"),
        (col("n_tiles") - size(col("kept"))).cast("long").as("n_dropped"))
  }

  /** DuckDB oracle: same tiling via list slices, df via unnest +
    * count distinct, reassembly via ordered string_agg; docs whose
    * every tile is hot still appear with empty clean_text. */
  val scrubSql: String =
    s"""WITH n AS (SELECT count(*) AS n_docs FROM documents),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tiled AS (
      |  SELECT doc_id, t, range(0, (len(t) + ${W - 1}) // $W) AS idx
      |  FROM toks),
      |tiles AS (
      |  SELECT doc_id, ord,
      |    array_to_string(t[(ord * $W + 1):(ord * $W + $W)], ' ') AS tile
      |  FROM (SELECT doc_id, t, unnest(idx) AS ord FROM tiled)),
      |df AS (SELECT tile, count(DISTINCT doc_id) AS df FROM tiles GROUP BY 1),
      |hot AS (SELECT tile FROM df, n
      |        WHERE df >= greatest($AbsFloor, n_docs // $RelDiv)),
      |kept AS (SELECT doc_id, ord, tile FROM tiles
      |         WHERE tile NOT IN (SELECT tile FROM hot)),
      |agg AS (SELECT doc_id, string_agg(tile, ' ' ORDER BY ord) AS clean_text,
      |          count(*) AS n_kept
      |        FROM kept GROUP BY 1),
      |tot AS (SELECT doc_id, count(*) AS n_tiles FROM tiles GROUP BY 1)
      |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
      |  tt.n_tiles, tt.n_tiles - coalesce(a.n_kept, 0) AS n_dropped
      |FROM documents d
      |JOIN tot tt ON tt.doc_id = d.doc_id
      |LEFT JOIN agg a ON a.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin
}
