package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.DecimalType

/** One catalog entry: a Spark query over the testdata corpus plus (when
  * SQL-expressible) the exact DuckDB oracle the driver hash-compares
  * against.
  *
  * Oracle-parity rules (why results hash-match with no tolerance):
  *   - Money columns in the corpus are exact 2-decimal doubles. All
  *     sums/products over them are done in DECIMAL (exact, associative,
  *     order-independent) and cast to DOUBLE only at the end — a decimal
  *     with <= 15 significant digits converts to the identical double in
  *     every IEEE-754 engine.
  *   - Derived double math (ratios, z-scores, cosines) is written with the
  *     IDENTICAL operation tree on both sides: bit-identical inputs +
  *     IEEE ops (+,-,*,/,sqrt are correctly rounded) = bit-identical
  *     outputs. No round() fuzzing needed.
  *   - Every computed column is aliased to the same name on both sides
  *     (the driver sorts columns by name before hashing).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** Session memos: the one place where work a session reuses across
  * queries is kept — no query keeps a map of its own:
  *   - layout fixtures (`once`: the partitioned/bucketed/ORC/text
  *     COPIES q53/q65/q69/q70/q72–q74 read back — ingest-time work,
  *     not the operator under test; q69's own doc says the bucketed
  *     write is "paid once at ingest and amortized over every
  *     subsequent join");
  *   - the e2e sink write (E2E), the trained k-means and PQ codebooks
  *     (Approx.lloydTrain), the setsim pair set (TextDocs.setsimPairs)
  *     and e2b's cached LSH projection frame (Approx.lshScaledTop3).
  * The operator under test still runs on every invocation, and results
  * are byte-identical: every memoized computation is deterministic.
  * NOT cross-run caching: entries are keyed on the live SparkSession
  * (weak — a retired session's entries are collectable), so every
  * bench/verify invocation rebuilds each entry at least once.
  */
object Staging {
  /** The build's target/ dir, resolved from the working directory and
    * absolute, so oracle SQL that embeds a staging path resolves it the
    * same way (run from the repo root), and two checkouts never share a
    * staging or output root. */
  val targetDir: String = checkoutPath("target")

  /** `rel` resolved from the working directory (the checkout's root),
    * absolute: where the checked-in e2e corpora and the staging roots
    * live. */
  private[catalog] def checkoutPath(rel: String): String =
    java.nio.file.Paths.get(rel).toAbsolutePath.toString

  /** per live session: key → the cell that serializes its entry */
  private final class Cell { var value: Option[Any] = None }
  private val memos = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Cell]]())

  /** The session's entry for `key`, built by `build` unless the session
    * already holds one that `live` accepts. Entrants for one (session,
    * key) are serialized, so concurrent queries compute an entry once;
    * other keys build in parallel. A rebuilt entry first releases the
    * cached frames of the one it replaces, so a key never holds two.
    * Dataset values (alone or as tuple fields) have their checkpoints
    * registered with [[PinnedCheckpoints]], so between-query hygiene
    * leaves them readable. */
  def memo[V](s: SparkSession, key: String)(live: V => Boolean)(
      build: => V): V = {
    val cell = memos.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Cell]())
      .computeIfAbsent(key, _ => new Cell)
    cell.synchronized {
      cell.value.map(_.asInstanceOf[V]).filter(live).getOrElse {
        cell.value.foreach(frames(_).foreach(_.unpersist(blocking = false)))
        val v = build
        frames(v).foreach(PinnedCheckpoints.register(_))
        cell.value = Some(v)
        v
      }
    }
  }

  private def frames(v: Any): Seq[Dataset[_]] = v match {
    case d: Dataset[_] => Seq(d)
    case p: Product => p.productIterator.collect { case d: Dataset[_] => d }.toSeq
    case _ => Nil
  }

  /** The marker-file form of [[memo]]: run `write` unless this session
    * already staged `slot` for exactly `want` (normally the sfDir) and
    * `marker` still exists on disk. Queries whose staging root embeds
    * the sfDir use a per-dir slot; q53's root is SHARED across sfDirs
    * (its static oracle names the one root), so its slot is global and
    * `want` tracks which dir the root currently holds — switching dirs
    * rewrites, same-dir repeats skip. */
  def once(s: SparkSession, slot: String, want: String, marker: String)(
      write: => Unit): Unit =
    memo(s, s"stage:$slot")((w: String) => w == want &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(marker))) {
      write; want
    }

  /** Path- and table-name-safe key of an sfDir for staging roots: the
    * first 16 hex digits (64 bits) of the dir's SHA-256. Unlike
    * `String.hashCode` (`"Aa"` and `"BB"` share one), two dirs collide
    * only with probability ~n²/2⁶⁵ for n dirs. */
  def tag(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
}

object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** a money column as exact DECIMAL(12,2), the oracle's CAST */
  def d2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** `events.ts` has shipped as BOTH parquet TIMESTAMP(NANOS) (earlier
    * corpora) and TIMESTAMP(MICROS) (current corpora), so the reader
    * detects the unit from the file footer instead of assuming one:
    *   - NANOS: Spark 4 refuses to map it to TimestampType under schema
    *     inference, so inference either throws or (with
    *     `spark.sql.legacy.parquet.nanosAsLong`) yields LongType. Either
    *     way we read ts explicitly as BIGINT raw nanos and truncate to
    *     microseconds — the same ns→µs truncation DuckDB applies in
    *     `CAST(ts AS TIMESTAMP)`.
    *   - MICROS: inference yields TimestampType/TimestampNTZType; read
    *     normally and normalize NTZ→TIMESTAMP (identity under the UTC
    *     session timezone every entry point sets), which is already
    *     exactly what DuckDB reads.
    * Both engines therefore see identical microsecond values on either
    * corpus vintage, and no session conf is touched.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    val path = s"$dir/events.parquet"
    val inferredTs = scala.util.Try(
      spark.read.parquet(path).schema("ts").dataType).toOption
    if (inferredTs.contains(TimestampType) ||
        inferredTs.contains(TimestampNTZType))
      spark.read.parquet(path).withColumn("ts", col("ts").cast(TimestampType))
    else
      spark.read
        .schema("event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
        .parquet(path)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }
}
