package graft

/** DuckDB oracle SQL — one entry per key in [[SparkEntry.queries]] that is
  * SQL-expressible. The driver runs these over the same parquet tables and
  * hash-compares against the Spark result (column names sorted first), so:
  *   - every column is aliased identically on both sides;
  *   - every query carries a total-order ORDER BY (tie-broken on keys);
  *   - small-int derivations are CAST to match Spark's types
  *     (hour → INTEGER, date → DATE);
  *   - floating aggregates are rounded identically on both sides.
  */
object Oracles {

  /** The §1.3 preprocessed relation as a DuckDB CTE over `events` —
    * mirrors [[Preprocess.preprocessEvents]] exactly. */
  val Prep: String =
    """WITH prep AS (
      |  SELECT event_id AS id,
      |         make_timestamp(epoch_ns(ts)//1000) AS ts,
      |         CAST(user_id AS VARCHAR) AS client,
      |         props AS domain, value AS reply_time, event_type,
      |         CASE WHEN event_type IN ('click','view','purchase') THEN 'Allowed'
      |              WHEN event_type = 'error' THEN 'Blocked'
      |              ELSE 'Other' END AS status_type,
      |         CAST(ts AS DATE) AS date,
      |         CAST(hour(ts) AS INTEGER) AS hour,
      |         CASE WHEN hour(ts) >= 6 THEN 'Day' ELSE 'Night' END AS day_period,
      |         dayname(ts) AS day_name
      |  FROM events
      |)""".stripMargin

  private def p(body: String): String = Prep + "\n" + body

  val stats: Map[String, String] = Map(
    "a01_totals" -> p(
      """SELECT count(*) AS total,
        |  count(*) FILTER (WHERE status_type='Blocked') AS blocked_cnt,
        |  count(*) FILTER (WHERE status_type='Allowed') AS allowed_cnt,
        |  CASE WHEN count(*)=0 THEN 0.0 ELSE round(100.0*(count(*) FILTER (WHERE status_type='Blocked'))/count(*),4) END AS blocked_pct,
        |  CASE WHEN count(*)=0 THEN 0.0 ELSE round(100.0*(count(*) FILTER (WHERE status_type='Allowed'))/count(*),4) END AS allowed_pct
        |FROM prep""".stripMargin),

    "a03_time_range" -> p(
      """SELECT min_ts, max_ts,
        |  span_us // 86400000000 AS span_days,
        |  (span_us % 86400000000) // 3600000000 AS span_hours,
        |  (span_us % 3600000000) // 60000000 AS span_minutes
        |FROM (SELECT min(ts) AS min_ts, max(ts) AS max_ts,
        |             epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us FROM prep)""".stripMargin),

    "a04_top_client" -> p(
      "SELECT client, count(*) AS cnt FROM prep GROUP BY client ORDER BY cnt DESC, client LIMIT 1"),

    "a04_top_client_by_class" -> p(
      """SELECT status_type, client, cnt FROM (
        |  SELECT status_type, client, count(*) AS cnt,
        |         row_number() OVER (PARTITION BY status_type ORDER BY count(*) DESC, client) AS rn
        |  FROM prep GROUP BY status_type, client)
        |WHERE rn = 1 ORDER BY status_type""".stripMargin),

    "a05_top_domain_allowed" -> topDomainSql("Allowed"),
    "a05_top_domain_blocked" -> topDomainSql("Blocked"),

    "a06_persistent_client" -> p(
      """SELECT client, domain, count(*) AS cnt FROM prep WHERE status_type='Blocked'
        |GROUP BY client, domain ORDER BY cnt DESC, client, domain LIMIT 1""".stripMargin),

    "a07_daily_counts" -> p(
      """SELECT date, count(*) AS cnt,
        |  count(*) FILTER (WHERE status_type='Blocked') AS blocked_cnt,
        |  count(*) FILTER (WHERE status_type='Allowed') AS allowed_cnt
        |FROM prep GROUP BY date ORDER BY date""".stripMargin),

    "a26_reply_dispersion" -> p(
      """SELECT status_type,
        |  round(stddev_samp(reply_time), 6) AS reply_stddev,
        |  round(corr(reply_time, CAST(hour AS DOUBLE)), 6) AS hour_corr,
        |  round(avg(reply_time), 6) AS reply_avg
        |FROM prep WHERE reply_time IS NOT NULL
        |GROUP BY status_type ORDER BY status_type""".stripMargin),

    // each event lands in exactly size/slide = 4 sliding windows whose
    // starts are its 15-min bucket minus 0..3 slides (epoch-aligned on
    // both engines)
    "a33_sliding_hourly" -> p(
      """SELECT w_start, count(*) AS cnt FROM (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - o.off * INTERVAL '15 minutes' AS w_start
        |  FROM prep, (VALUES (0), (1), (2), (3)) o(off))
        |GROUP BY w_start ORDER BY w_start""".stripMargin),

    "u04_day_minus_night_bag" -> p(
      """SELECT client, count(*) AS surplus FROM (
        |  SELECT client FROM prep WHERE day_period = 'Day'
        |  EXCEPT ALL
        |  SELECT client FROM prep WHERE day_period = 'Night')
        |GROUP BY client ORDER BY client""".stripMargin),

    "u05_union_all_dupes" -> p(
      """SELECT status_type, count(*) AS cnt FROM (
        |  SELECT status_type FROM prep UNION ALL SELECT status_type FROM prep)
        |GROUP BY status_type ORDER BY status_type""".stripMargin),

    // the salt must be result-invisible: the oracle is the PLAIN form
    "u06_salted_count" -> p(
      """SELECT client, count(*) AS cnt FROM prep
        |GROUP BY client ORDER BY client""".stripMargin),

    "u07_salted_join" -> p(
      """SELECT p.status_type, d.status_total, count(*) AS cnt
        |FROM prep p JOIN (SELECT status_type, count(*) AS status_total
        |                  FROM prep GROUP BY status_type) d
        |  ON p.status_type = d.status_type
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    "a32_argmax_single_pass" -> p(
      """SELECT status_type,
        |  arg_max(domain, lpad(CAST(cnt AS VARCHAR), 12, '0') || domain) AS top_domain,
        |  max(cnt) AS cnt
        |FROM (SELECT status_type, domain, count(*) AS cnt
        |      FROM prep GROUP BY status_type, domain)
        |GROUP BY status_type ORDER BY status_type""".stripMargin),

    "w08_transition_matrix" -> p(
      """SELECT from_status, to_status, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_status), 6) AS p
        |FROM (
        |  SELECT from_status, to_status, count(*) AS n FROM (
        |    SELECT lag(status_type) OVER (PARTITION BY client ORDER BY ts, id) AS from_status,
        |           status_type AS to_status
        |    FROM prep)
        |  WHERE from_status IS NOT NULL
        |  GROUP BY 1, 2)
        |ORDER BY from_status, to_status""".stripMargin),

    "p11_notin_null" -> p(
      """SELECT
        |  (SELECT count(*) FROM prep
        |   WHERE domain NOT IN (SELECT domain FROM prep WHERE status_type = 'NoSuchClass'))
        |    AS cnt_vs_empty_set,
        |  (SELECT count(*) FROM prep
        |   WHERE domain NOT IN (SELECT CAST(NULL AS VARCHAR)))
        |    AS cnt_vs_null_set""".stripMargin),

    "a31_client_rank_ties" -> p(
      """SELECT client, cnt,
        |  CAST(rank() OVER (ORDER BY cnt DESC) AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER (ORDER BY cnt DESC) AS INTEGER) AS drnk
        |FROM (SELECT client, count(*) AS cnt FROM prep GROUP BY client)
        |ORDER BY client""".stripMargin),

    "a30_grouping_sets" -> p(
      """SELECT date, status_type, count(*) AS cnt,
        |  CAST(GROUPING(date, status_type) AS INTEGER) AS gid
        |FROM prep
        |GROUP BY GROUPING SETS ((date), (status_type), ())
        |ORDER BY date ASC NULLS FIRST, status_type ASC NULLS FIRST""".stripMargin),

    // forward as-of mirrored as a correlated min-subquery: earliest
    // blocked event at-or-after each allowed event per client
    "j11_asof_forward" -> p(
      """SELECT a.client, a.id, a.ts,
        |  (SELECT min(b.ts) FROM prep b
        |   WHERE b.status_type = 'Blocked' AND b.client = a.client
        |     AND b.ts >= a.ts) AS next_blocked_ts,
        |  round((epoch_us((SELECT min(b.ts) FROM prep b
        |                   WHERE b.status_type = 'Blocked' AND b.client = a.client
        |                     AND b.ts >= a.ts)) - epoch_us(a.ts)) / 1e6, 6) AS gap_s
        |FROM prep a WHERE a.status_type = 'Allowed'
        |ORDER BY a.client, a.ts, a.id""".stripMargin),

    "a29_client_rank_dist" -> p(
      """SELECT client, cnt,
        |  round(percent_rank() OVER (ORDER BY cnt, client), 6) AS pct_rank,
        |  round(cume_dist() OVER (ORDER BY cnt, client), 6) AS cum_dist
        |FROM (SELECT client, count(*) AS cnt FROM prep GROUP BY client)
        |ORDER BY client""".stripMargin),

    // The EWMA recurrence replayed step-for-step: a recursive CTE walks
    // each status class's daily series in row_number order applying the
    // SAME multiply-add as the Spark fold — identical operation order =>
    // bit-identical doubles before the display round.
    "j10_ewma_daily" -> (Prep.replace("WITH prep", "WITH RECURSIVE prep") +
      """,
        |daily AS (
        |  SELECT status_type, date, CAST(count(*) AS DOUBLE) AS cnt,
        |         row_number() OVER (PARTITION BY status_type ORDER BY date) AS rn
        |  FROM prep GROUP BY status_type, date),
        |rec AS (
        |  SELECT status_type, date, rn, cnt AS ewma FROM daily WHERE rn = 1
        |  UNION ALL
        |  SELECT d.status_type, d.date, d.rn, 0.3 * d.cnt + 0.7 * r.ewma
        |  FROM daily d JOIN rec r
        |    ON d.status_type = r.status_type AND d.rn = r.rn + 1)
        |SELECT status_type, date, round(ewma, 6) AS ewma FROM rec
        |ORDER BY status_type, date""".stripMargin),

    // trailing-window z-score: current row excluded (ROWS ... 1
    // PRECEDING), < 3 trailing points or zero variance => NULL z; the
    // anomaly test applies to the ROUNDED z on both sides
    "w09_daily_anomalies" -> p(
      """, daily AS (
        |  SELECT status_type, date, count(*) AS cnt
        |  FROM prep GROUP BY status_type, date),
        |scored AS (
        |  SELECT status_type, date, cnt,
        |    count(cnt) OVER w AS n_prev,
        |    avg(cnt) OVER w AS mean_prev,
        |    stddev_samp(cnt) OVER w AS sd_prev
        |  FROM daily
        |  WINDOW w AS (PARTITION BY status_type ORDER BY date
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT status_type, date, cnt,
        |    round(mean_prev, 6) AS trailing_mean,
        |    CASE WHEN n_prev >= 3 AND sd_prev > 0
        |         THEN round((cnt - mean_prev) / sd_prev, 6) END AS z_score
        |  FROM scored)
        |SELECT status_type, date, cnt, trailing_mean, z_score,
        |  coalesce(abs(z_score) > 2.0, false) AS is_anomaly
        |FROM z ORDER BY status_type, date""".stripMargin),

    // ntile → INTEGER and sum(BIGINT) → BIGINT: DuckDB widens to
    // BIGINT/HUGEINT where Spark stays int/long
    // explicit bin arithmetic (DuckDB has no width_bucket); floor math
    // on doubles is exact for these magnitudes
    // linear interpolation: last/first non-null windows + lerp, same
    // arithmetic order on both engines
    "j06_interpolated_hourly" -> p(
      """, grid AS (
        |  SELECT unnest(generate_series(
        |    date_trunc('hour', (SELECT min(ts) FROM prep)),
        |    date_trunc('hour', (SELECT max(ts) FROM prep)),
        |    INTERVAL 1 HOUR)) AS ts_hour),
        |obs AS (
        |  SELECT date_trunc('hour', ts) AS ts_hour, CAST(count(*) AS DOUBLE) AS cnt
        |  FROM prep WHERE status_type = 'Blocked' GROUP BY 1),
        |j AS (SELECT g.ts_hour, o.cnt FROM grid g LEFT JOIN obs o USING (ts_hour)),
        |n AS (
        |  SELECT ts_hour, cnt,
        |    last_value(cnt IGNORE NULLS) OVER w1 AS prev_cnt,
        |    last_value(CASE WHEN cnt IS NOT NULL THEN CAST(epoch_us(ts_hour) AS DOUBLE) END IGNORE NULLS) OVER w1 AS prev_t,
        |    first_value(cnt IGNORE NULLS) OVER w2 AS next_cnt,
        |    first_value(CASE WHEN cnt IS NOT NULL THEN CAST(epoch_us(ts_hour) AS DOUBLE) END IGNORE NULLS) OVER w2 AS next_t
        |  FROM j
        |  WINDOW w1 AS (ORDER BY ts_hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         w2 AS (ORDER BY ts_hour ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT ts_hour,
        |  round(CASE WHEN cnt IS NOT NULL THEN cnt
        |             WHEN prev_cnt IS NULL THEN next_cnt
        |             WHEN next_cnt IS NULL THEN prev_cnt
        |             ELSE prev_cnt + (next_cnt - prev_cnt)
        |                  * (CAST(epoch_us(ts_hour) AS DOUBLE) - prev_t) / (next_t - prev_t)
        |        END, 6) AS cnt_interp
        |FROM n ORDER BY ts_hour""".stripMargin),

    // the client-partitioned interpolation: same lerp, PARTITION BY client
    "j07_interpolated_client" -> p(
      """, grid AS (
        |  SELECT unnest(generate_series(
        |    date_trunc('hour', (SELECT min(ts) FROM prep)),
        |    date_trunc('hour', (SELECT max(ts) FROM prep)),
        |    INTERVAL 1 HOUR)) AS ts_hour),
        |topc AS (
        |  SELECT client FROM (
        |    SELECT client, count(*) AS total_cnt FROM prep GROUP BY client
        |    ORDER BY total_cnt DESC, client LIMIT 5)),
        |obs AS (
        |  SELECT client, date_trunc('hour', ts) AS ts_hour, CAST(count(*) AS DOUBLE) AS cnt
        |  FROM prep WHERE client IN (SELECT client FROM topc)
        |  GROUP BY client, date_trunc('hour', ts)),
        |j AS (
        |  SELECT c.client, g.ts_hour, o.cnt
        |  FROM grid g CROSS JOIN topc c
        |  LEFT JOIN obs o ON o.client = c.client AND o.ts_hour = g.ts_hour),
        |n AS (
        |  SELECT client, ts_hour, cnt,
        |    last_value(cnt IGNORE NULLS) OVER w1 AS prev_cnt,
        |    last_value(CASE WHEN cnt IS NOT NULL THEN CAST(epoch_us(ts_hour) AS DOUBLE) END IGNORE NULLS) OVER w1 AS prev_t,
        |    first_value(cnt IGNORE NULLS) OVER w2 AS next_cnt,
        |    first_value(CASE WHEN cnt IS NOT NULL THEN CAST(epoch_us(ts_hour) AS DOUBLE) END IGNORE NULLS) OVER w2 AS next_t
        |  FROM j
        |  WINDOW w1 AS (PARTITION BY client ORDER BY ts_hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         w2 AS (PARTITION BY client ORDER BY ts_hour ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT client, ts_hour,
        |  round(CASE WHEN cnt IS NOT NULL THEN cnt
        |             WHEN prev_cnt IS NULL THEN next_cnt
        |             WHEN next_cnt IS NULL THEN prev_cnt
        |             ELSE prev_cnt + (next_cnt - prev_cnt)
        |                  * (CAST(epoch_us(ts_hour) AS DOUBLE) - prev_t) / (next_t - prev_t)
        |        END, 6) AS cnt_interp
        |FROM n ORDER BY client, ts_hour""".stripMargin),

    "a28_reply_histogram" -> p(
      """SELECT bucket, count(*) AS n,
        |  CAST(bucket - 1 AS DOUBLE) * 50.0 AS lo,
        |  CAST(bucket AS DOUBLE) * 50.0 AS hi
        |FROM (SELECT CAST(least(floor(reply_time / 50.0) + 1, 10) AS INTEGER) AS bucket
        |      FROM prep WHERE reply_time IS NOT NULL)
        |GROUP BY bucket ORDER BY bucket""".stripMargin),

    "a27_client_quartiles" -> p(
      """, counts AS (SELECT client, count(*) AS cnt FROM prep GROUP BY client)
        |SELECT quartile, count(*) AS n_clients, CAST(sum(cnt) AS BIGINT) AS total_events FROM (
        |  SELECT cnt, CAST(ntile(4) OVER (ORDER BY cnt DESC, client) AS INTEGER) AS quartile
        |  FROM counts)
        |GROUP BY quartile ORDER BY quartile""".stripMargin),

    // EXCEPT/INTERSECT are set-distinct in both engines
    "u02_day_only_clients" -> p(
      """SELECT client FROM prep WHERE day_period = 'Day'
        |EXCEPT SELECT client FROM prep WHERE day_period = 'Night'
        |ORDER BY client""".stripMargin),

    "u03_both_period_clients" -> p(
      """SELECT client FROM prep WHERE day_period = 'Day'
        |INTERSECT SELECT client FROM prep WHERE day_period = 'Night'
        |ORDER BY client""".stripMargin),

    "a07_unpivot_daily" -> p(
      """, daily AS (
        |  SELECT date, count(*) AS cnt,
        |    count(*) FILTER (WHERE status_type='Blocked') AS blocked_cnt,
        |    count(*) FILTER (WHERE status_type='Allowed') AS allowed_cnt
        |  FROM prep GROUP BY date)
        |SELECT date, measure, n FROM (
        |  SELECT date, 'cnt' AS measure, cnt AS n FROM daily
        |  UNION ALL SELECT date, 'blocked_cnt', blocked_cnt FROM daily
        |  UNION ALL SELECT date, 'allowed_cnt', allowed_cnt FROM daily)
        |ORDER BY date, measure""".stripMargin),

    "a08_hourly_counts" -> p(
      "SELECT hour, count(*) AS cnt FROM prep GROUP BY hour ORDER BY hour"),

    "a09_weekday_avg" -> p(
      """SELECT day_name, round(avg(cnt), 4) AS avg_cnt FROM (
        |  SELECT date, day_name, count(*) AS cnt FROM prep GROUP BY date, day_name)
        |GROUP BY day_name ORDER BY day_name""".stripMargin),

    "a10_day_night_totals" -> p(
      """SELECT day_period, count(*) AS cnt,
        |  count(*) FILTER (WHERE status_type='Blocked') AS blocked_cnt,
        |  count(*) FILTER (WHERE status_type='Allowed') AS allowed_cnt
        |FROM prep GROUP BY day_period ORDER BY day_period""".stripMargin),

    "a10_day_night_top_client" -> p(
      """SELECT day_period, client, cnt FROM (
        |  SELECT day_period, client, count(*) AS cnt,
        |         row_number() OVER (PARTITION BY day_period ORDER BY count(*) DESC, client) AS rn
        |  FROM prep GROUP BY day_period, client)
        |WHERE rn = 1 ORDER BY day_period""".stripMargin),

    "a10_day_night_top_domain" -> (Prep + """,
      |top AS (
      |  SELECT day_period, domain, class_cnt FROM (
      |    SELECT day_period, domain, count(*) AS class_cnt,
      |           row_number() OVER (PARTITION BY day_period ORDER BY count(*) DESC, domain) AS rn
      |    FROM prep WHERE status_type = 'Blocked' GROUP BY day_period, domain)
      |  WHERE rn = 1)
      |SELECT p.day_period, p.domain, t.class_cnt, count(*) AS all_cnt
      |FROM prep p JOIN top t ON p.day_period = t.day_period AND p.domain = t.domain
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),

    "a11_distinct_counts" -> p(
      "SELECT count(DISTINCT domain) AS n_domains, count(DISTINCT client) AS n_clients FROM prep"),

    // sketch queries in checked form: the oracle re-computes the EXACT
    // values and asserts the engine-side error-bound booleans are TRUE —
    // a sketch estimate drifting out of ε fails the hash compare
    "a11_approx_distinct" -> p(
      """SELECT count(DISTINCT domain) AS n_domains,
        |       count(DISTINCT client) AS n_clients,
        |       TRUE AS domains_within_eps, TRUE AS clients_within_eps
        |FROM prep""".stripMargin),

    "a11_hll_daily_rollup" -> p(
      """SELECT count(DISTINCT date) AS n_days,
        |       count(DISTINCT domain) AS exact_domains,
        |       TRUE AS est_within_eps
        |FROM prep""".stripMargin),

    // A34: percentile_approx's contract is a RANK-error bound; the engine
    // computes the empirical CDF straddle check itself, the oracle
    // asserts it holds at every level
    "a34_approx_quantile_bounds" ->
      """SELECT CAST(0.50 AS DOUBLE) AS q_level, TRUE AS rank_ok
        |UNION ALL SELECT CAST(0.95 AS DOUBLE), TRUE
        |UNION ALL SELECT CAST(0.99 AS DOUBLE), TRUE
        |ORDER BY q_level""".stripMargin,

    "a12_diverse_client" -> p(
      """SELECT client, count(DISTINCT domain) AS n_domains FROM prep
        |GROUP BY client ORDER BY n_domains DESC, client LIMIT 1""".stripMargin),

    "a13_reply_stats" -> p(
      """SELECT coalesce(round(avg(abs(reply_time))*1000, 3), 0.0) AS avg_reply_ms,
        |       coalesce(round(max(abs(reply_time))*1000, 3), 0.0) AS max_reply_ms,
        |       coalesce(round(min(abs(reply_time))*1000, 3), 0.0) AS min_reply_ms
        |FROM prep""".stripMargin),

    "a14_slowest_domain" -> p(
      """SELECT domain, round(avg_reply*1000, 3) AS avg_reply_ms FROM (
        |  SELECT domain, avg(reply_time) AS avg_reply FROM prep
        |  WHERE reply_time IS NOT NULL GROUP BY domain
        |  ORDER BY avg_reply DESC, domain LIMIT 1)""".stripMargin),

    "a15_reply_by_date" -> p(
      """SELECT date, round(avg(reply_time)*1000, 3) AS avg_reply_ms
        |FROM prep GROUP BY date ORDER BY date""".stripMargin),

    "a22_inter_arrival" -> p(
      """SELECT status_type, round(avg(gap_us)/1e6, 4) AS mean_gap_s FROM (
        |  SELECT status_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY status_type ORDER BY ts, id) AS gap_us
        |  FROM prep WHERE status_type IN ('Allowed','Blocked'))
        |WHERE gap_us IS NOT NULL GROUP BY status_type ORDER BY status_type""".stripMargin),

    "a11_cms_domain_counts" -> CmsSql.query
  )

  /** Spark's `count_min_sketch(domain, 0.001d, 0.99d, 42)` mirrored in
    * DuckDB SQL, so [[graft.operators.Stats.cmsDomainEstimates]] is
    * hash-checkable instead of rows-only.
    *
    * Why this is exact: for STRING items the sketch's bucket choice is
    * seed-independent — `CountMinSketchImpl.getHashBuckets` double-hashes
    * the UTF-8 bytes with the sketch package's private Murmur3_x86_32
    * (`h1 = murmur(bytes, 0)`, `h2 = murmur(bytes, h1)`, `bucket_i =
    * |int32(h1 + i*h2)| % width`; the constructor seed 42 only feeds the
    * `hashA` family used for LONG items). eps=0.001 → width 2000,
    * confidence=0.99 → depth 7. Merging daily sketches sums counter
    * tables cell-wise, so the merged table is identical to one table
    * built over all rows — the oracle can skip the per-day partition
    * entirely and aggregate global per-domain counts into cells.
    *
    * The 32-bit wraparound arithmetic is spelled out in UBIGINT: every
    * multiply is masked `% 4294967296` (max intermediate ~1.5e19 fits
    * UBIGINT), `rotl(x,r)` becomes its two disjoint shift halves added
    * (`(x<<r) % 2^32 + x >>> (32-r)` — the halves occupy disjoint bits so
    * `+` ≡ `|`), `>>>` is `//`, and Java's signed `%` is recovered with an
    * explicit two's-complement reinterpretation before `abs`. Murmur's
    * byte stream folds via `list_reduce` seeded through `list_prepend`
    * (DuckDB's reduce uses the head as the initial accumulator); the
    * aligned 4-byte little-endian words and the per-byte tail go through
    * the same mixK1/mixH1 chain, exactly like `hashUnsafeBytes`. Domains
    * in this corpus are ASCII, so `ord(char)` == UTF-8 byte (a multi-byte
    * code point would need a byte-level decomposition DuckDB 1.0 lacks).
    * Validated against the Java sketch under forced collisions (width 10,
    * 100 domains) and across tail lengths 0–3 — see `SketchSpec`.
    */
  private object CmsSql {
    private val M = "4294967296"
    /** k1 *= 0xcc9e2d51; k1 = rotl(k1,15); k1 *= 0x1b873593 */
    private def mixK1(w: String): String = {
      val a = s"(($w) * 3432918353) % $M"
      val rot = s"((($a) * 32768) % $M + ($a) // 131072)"
      s"(($rot) * 461845907) % $M"
    }
    /** h1 ^= k1; h1 = rotl(h1,13); h1 = h1*5 + 0xe6546b64 */
    private def mixH1(h: String, k1: String): String = {
      val x = s"xor(($h), ($k1))"
      val rot = s"((($x) * 8192) % $M + ($x) // 524288)"
      s"(($rot) * 5 + 3864292196) % $M"
    }
    /** h ^= len; h ^= h>>>16; h *= 0x85ebca6b; h ^= h>>>13; h *= 0xc2b2ae35; h ^= h>>>16 */
    private def fmix(h0: String, ln: String): String = {
      var h = s"xor(($h0), ($ln))"
      h = s"xor(($h), ($h) // 65536)"
      h = s"(($h) * 2246822507) % $M"
      h = s"xor(($h), ($h) // 8192)"
      h = s"(($h) * 3266489909) % $M"
      s"xor(($h), ($h) // 65536)"
    }
    /** Murmur3_x86_32 over `elems` (words-then-tail-bytes list) from `seed`. */
    private def murmur(elems: String, seed: String, ln: String): String =
      fmix(
        s"list_reduce(list_prepend(CAST(($seed) AS UBIGINT), $elems), " +
          s"(h, w) -> CAST((${mixH1("h", mixK1("w"))}) AS UBIGINT))",
        ln)

    val query: String = Prep + s""",
counts AS (
  SELECT domain, count(*) AS exact_cnt FROM prep GROUP BY domain
),
hashed AS (
  SELECT domain, exact_cnt, h1, ${murmur("elems", "h1", "ln")} AS h2
  FROM (
    SELECT domain, exact_cnt, elems, ln, ${murmur("elems", "0", "ln")} AS h1
    FROM (
      SELECT domain, exact_cnt, length(domain) AS ln,
             CAST(list_concat(
               list_transform(range(length(domain) // 4), w ->
                 ord(domain[4*w+1]) + ord(domain[4*w+2])*256 +
                 ord(domain[4*w+3])*65536 + ord(domain[4*w+4])*16777216),
               list_transform(range((length(domain) // 4) * 4, length(domain)), i ->
                 ord(domain[i+1]))
             ) AS UBIGINT[]) AS elems
      FROM counts
    )
  )
),
bucketed AS (
  SELECT domain, exact_cnt, i,
         abs(CASE WHEN v >= 2147483648 THEN v - 4294967296 ELSE v END) % 2000 AS bucket
  FROM (
    SELECT domain, exact_cnt, i,
           CAST((CAST(h1 AS BIGINT) + i * CAST(h2 AS BIGINT)) % 4294967296 AS BIGINT) AS v
    FROM hashed, (SELECT unnest(range(7)) AS i)
  )
),
cells AS (
  SELECT i, bucket, CAST(sum(exact_cnt) AS BIGINT) AS cell
  FROM bucketed GROUP BY i, bucket
),
top AS (
  SELECT domain, exact_cnt FROM counts ORDER BY exact_cnt DESC, domain LIMIT 10
)
SELECT t.domain, t.exact_cnt, e.cms_est
FROM top t
JOIN (
  SELECT b.domain, min(c.cell) AS cms_est
  FROM bucketed b JOIN cells c USING (i, bucket)
  WHERE b.domain IN (SELECT domain FROM top)
  GROUP BY b.domain
) e USING (domain)
ORDER BY t.domain"""
  }

  private def topDomainSql(statusType: String): String = Prep + s""",
topd AS (SELECT domain, count(*) AS class_cnt FROM prep WHERE status_type='$statusType'
         GROUP BY domain ORDER BY class_cnt DESC, domain LIMIT 1),
allc AS (SELECT p.domain, t.class_cnt, count(*) AS all_cnt
         FROM prep p JOIN topd t USING(domain) GROUP BY p.domain, t.class_cnt),
topc AS (SELECT p.domain, p.client, count(*) AS client_cnt
         FROM prep p JOIN topd USING(domain) WHERE p.status_type='$statusType'
         GROUP BY p.domain, p.client ORDER BY client_cnt DESC, p.client LIMIT 1)
SELECT a.domain, a.class_cnt, a.all_cnt, c.client, c.client_cnt
FROM allc a JOIN topc c USING(domain)"""

  /** Streak-run CTE body for one class, shared by w01/w02 — mirrors
    * [[graft.operators.Streaks.streakRuns]]: IS DISTINCT FROM covers the
    * null first lag exactly like Spark's `isNull || =!=`. */
  private def runsSql(statusType: String): String =
    s"""SELECT grp, count(*) AS streak_len, min(ts) AS start_ts FROM (
       |  SELECT ts, flag,
       |         CAST(sum(chg) OVER (ORDER BY ts, id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp FROM (
       |    SELECT ts, id, flag,
       |           CASE WHEN lag(flag) OVER (ORDER BY ts, id) IS DISTINCT FROM flag THEN 1 ELSE 0 END AS chg
       |    FROM (SELECT ts, id, status_type = '$statusType' AS flag FROM prep)))
       |WHERE flag GROUP BY grp""".stripMargin

  private val heatmapCols: String =
    (0 to 23).map(h => s"count(*) FILTER (WHERE hour = $h) AS h$h").mkString(",\n  ")

  val plot: Map[String, String] = Map(
    "a16_hourly_view" -> p(
      """SELECT date_trunc('hour', ts) AS ts_hour, status_type, client, count(*) AS cnt
        |FROM prep GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    "a17_view_by_status" -> p(
      """SELECT date_trunc('hour', ts) AS ts_hour, status_type, count(*) AS cnt
        |FROM prep GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // capSeries mirror: the same hour→day→week→month→quarter→year unit
    // ladder (MINIMUM calendar lengths: 28-day month, 90-day quarter)
    // over the hourly view's span, maxPoints=48
    "a35_capped_series" -> (Prep + """,
      |view AS (SELECT date_trunc('hour', ts) AS ts_hour, status_type, count(*) AS cnt
      |         FROM prep GROUP BY 1, 2),
      |b AS (SELECT (epoch(max(ts_hour)) - epoch(min(ts_hour))) / 3600.0 AS span_h FROM view)
      |SELECT CASE WHEN span_h <= 48 * 1    THEN date_trunc('hour', ts_hour)
      |            WHEN span_h <= 48 * 24   THEN date_trunc('day', ts_hour)
      |            WHEN span_h <= 48 * 168  THEN date_trunc('week', ts_hour)
      |            WHEN span_h <= 48 * 672  THEN date_trunc('month', ts_hour)
      |            WHEN span_h <= 48 * 2160 THEN date_trunc('quarter', ts_hour)
      |            ELSE date_trunc('year', ts_hour) END AS ts_hour,
      |       status_type, sum(cnt)::BIGINT AS cnt
      |FROM view, b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // capSeriesEnvelope mirror: same unit ladder over the daily
    // reply-time series, avg/min/max kept per coarser bucket
    "a36_capped_envelope" -> (Prep + """,
      |daily AS (SELECT date::TIMESTAMP AS ts_day, status_type,
      |                 round(avg(reply_time)*1000, 3) AS reply_ms
      |          FROM prep GROUP BY 1, 2),
      |b AS (SELECT (epoch(max(ts_day)) - epoch(min(ts_day))) / 3600.0 AS span_h FROM daily)
      |SELECT CASE WHEN span_h <= 10 * 1    THEN date_trunc('hour', ts_day)
      |            WHEN span_h <= 10 * 24   THEN date_trunc('day', ts_day)
      |            WHEN span_h <= 10 * 168  THEN date_trunc('week', ts_day)
      |            WHEN span_h <= 10 * 672  THEN date_trunc('month', ts_day)
      |            WHEN span_h <= 10 * 2160 THEN date_trunc('quarter', ts_day)
      |            ELSE date_trunc('year', ts_day) END AS ts_day,
      |       status_type,
      |       round(avg(reply_ms), 4) AS reply_ms_avg,
      |       min(reply_ms) AS reply_ms_min,
      |       max(reply_ms) AS reply_ms_max
      |FROM daily, b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "a17_client_activity" -> p(
      """SELECT date_trunc('hour', ts) AS ts_hour, client, count(*) AS cnt
        |FROM prep WHERE client IN (
        |  SELECT client FROM (SELECT client, count(*) AS total_cnt FROM prep
        |                      GROUP BY client ORDER BY total_cnt DESC, client LIMIT 10))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "j03_gap_filled" -> (Prep + """,
      |view AS (SELECT date_trunc('hour', ts) AS ts_hour, status_type, count(*) AS cnt
      |         FROM prep GROUP BY 1, 2),
      |grid AS (SELECT unnest(generate_series(date_trunc('hour', min(ts)),
      |                                       date_trunc('hour', max(ts)),
      |                                       INTERVAL 1 HOUR)) AS ts_hour FROM prep),
      |st AS (SELECT * FROM (VALUES ('Allowed'), ('Blocked'), ('Other')) s(status_type))
      |SELECT g.ts_hour, s.status_type, coalesce(v.cnt, 0) AS cnt
      |FROM grid g CROSS JOIN st s
      |LEFT JOIN view v ON v.ts_hour = g.ts_hour AND v.status_type = s.status_type
      |ORDER BY 1, 2""".stripMargin),

    "j04_gap_filled_client" -> (Prep + """,
      |topc AS (SELECT client FROM (SELECT client, count(*) AS c FROM prep
      |                             GROUP BY client ORDER BY c DESC, client LIMIT 10)),
      |act AS (SELECT date_trunc('hour', ts) AS ts_hour, client, count(*) AS cnt
      |        FROM prep WHERE client IN (SELECT client FROM topc) GROUP BY 1, 2),
      |grid AS (SELECT unnest(generate_series(date_trunc('hour', min(ts)),
      |                                       date_trunc('hour', max(ts)),
      |                                       INTERVAL 1 HOUR)) AS ts_hour FROM prep)
      |SELECT g.ts_hour, t.client, coalesce(a.cnt, 0) AS cnt
      |FROM grid g CROSS JOIN topc t
      |LEFT JOIN act a ON a.ts_hour = g.ts_hour AND a.client = t.client
      |ORDER BY 1, 2""".stripMargin),

    "a18_stacked_client_bar" -> (Prep + """,
      |topc AS (SELECT client, count(*) AS total_cnt FROM prep GROUP BY client
      |         ORDER BY total_cnt DESC, client LIMIT 10)
      |SELECT p.client, t.total_cnt, p.status_type, count(*) AS cnt
      |FROM prep p JOIN topc t USING (client)
      |GROUP BY 1, 2, 3 ORDER BY t.total_cnt DESC, p.client, p.status_type""".stripMargin),

    "a19_client_domain_scatter" -> (Prep + """,
      |topc AS (SELECT client FROM (SELECT client, count(*) AS c FROM prep
      |                             GROUP BY client ORDER BY c DESC, client LIMIT 10)),
      |topd AS (SELECT domain FROM (SELECT domain, count(*) AS c FROM prep
      |                             GROUP BY domain ORDER BY c DESC, domain LIMIT 10))
      |SELECT client,
      |       CASE WHEN length(domain) > 8
      |            THEN substr(domain, 1, 3) || '...' || substr(domain, length(domain) - 2, 3)
      |            ELSE domain END AS domain,
      |       status_type, count(*) AS cnt
      |FROM prep
      |WHERE client IN (SELECT client FROM topc) AND domain IN (SELECT domain FROM topd)
      |GROUP BY 1, 2, 3 ORDER BY cnt, client, domain, status_type""".stripMargin),

    "p05_top_domains_blocked" -> p(
      """SELECT CASE WHEN length(domain) > 8
        |            THEN substr(domain, 1, 3) || '...' || substr(domain, length(domain) - 2, 3)
        |            ELSE domain END AS domain,
        |       count(*) AS cnt
        |FROM prep WHERE status_type = 'Blocked'
        |GROUP BY 1 ORDER BY cnt DESC, domain LIMIT 10""".stripMargin),

    "a20_heatmap_all" -> p(
      s"SELECT day_name,\n  $heatmapCols\nFROM prep GROUP BY day_name ORDER BY day_name"),

    "a20_heatmap_blocked" -> p(
      s"""SELECT day_name,
         |  $heatmapCols
         |FROM prep WHERE status_type = 'Blocked' GROUP BY day_name ORDER BY day_name""".stripMargin),

    "p02_regex_filter" -> p(
      """SELECT status_type, count(*) AS cnt FROM prep
        |WHERE domain IS NULL OR NOT regexp_matches(domain, '\d{2}\}$')
        |GROUP BY status_type ORDER BY status_type""".stripMargin),

    // F2: +05:30 display shift = a plain interval add on the naive UTC
    // timestamp; the engine's invalid-zone leg falls back to UTC, so its
    // hour is the unshifted hour
    "f02_display_tz_hourly" -> p(
      """SELECT CAST(hour(ts + INTERVAL 330 MINUTE) AS INTEGER) AS local_hour,
        |       count(*) AS cnt,
        |       count(DISTINCT CAST(hour(ts) AS INTEGER)) AS n_utc_hours
        |FROM prep GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  val streaks: Map[String, String] = Map(
    "w01_streak_runs_blocked" -> p(runsSql("Blocked") + " ORDER BY grp"),

    // RANGE frame over epoch micros: (ts - 1h, ts] trailing window —
    // value-based bounds make equal-timestamp rows mutual peers, so the
    // count is shuffle-order-independent on both engines.
    "w07_peak_hourly_load" -> p(
      """, sw AS (
        |  SELECT client, ts,
        |         count(*) OVER (PARTITION BY client ORDER BY epoch_us(ts)
        |                        RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS n_last_hour
        |  FROM prep),
        |pk AS (SELECT client, max(n_last_hour) AS peak FROM sw GROUP BY client)
        |SELECT s.client, p.peak, min(s.ts) AS first_peak_ts
        |FROM sw s JOIN pk p ON s.client = p.client AND s.n_last_hour = p.peak
        |GROUP BY s.client, p.peak ORDER BY s.client""".stripMargin),

    "w02_longest_streaks" -> p(
      s"""SELECT * FROM (
         |  SELECT 'Allowed' AS status_type, streak_len, start_ts FROM (
         |    ${runsSql("Allowed")} ORDER BY streak_len DESC, start_ts LIMIT 1)
         |  UNION ALL
         |  SELECT 'Blocked' AS status_type, streak_len, start_ts FROM (
         |    ${runsSql("Blocked")} ORDER BY streak_len DESC, start_ts LIMIT 1))
         |ORDER BY status_type""".stripMargin),

    "w02_longest_streaks_fmt" -> p(
      s"""SELECT status_type, streak_len,
         |  strftime(start_ts, '%d %B %Y') AS streak_date,
         |  strftime(start_ts, '%H:%M') AS streak_hour
         |FROM (
         |  SELECT 'Allowed' AS status_type, streak_len, start_ts FROM (
         |    ${runsSql("Allowed")} ORDER BY streak_len DESC, start_ts LIMIT 1)
         |  UNION ALL
         |  SELECT 'Blocked' AS status_type, streak_len, start_ts FROM (
         |    ${runsSql("Blocked")} ORDER BY streak_len DESC, start_ts LIMIT 1))
         |ORDER BY status_type""".stripMargin),

    "w04_streak_runs_scalable" -> p(
      s"""SELECT row_number() OVER (ORDER BY start_ts) AS run_no, streak_len, start_ts
         |FROM (${runsSql("Blocked")})
         |ORDER BY run_no""".stripMargin),

    "w03_longest_idle" -> p(
      """SELECT round(gap_s, 6) AS gap_s, prev_ts AS before_gap, ts AS after_gap FROM (
        |  SELECT ts, prev_ts, (epoch_us(ts) - epoch_us(prev_ts)) / 1e6 AS gap_s FROM (
        |    SELECT ts, lag(ts) OVER (ORDER BY ts, id) AS prev_ts FROM prep))
        |WHERE gap_s IS NOT NULL ORDER BY gap_s DESC, ts LIMIT 1""".stripMargin)
  )

  /** Star-schema join queries ([[graft.operators.Joins]]). These read the
    * TPC-H-ish tables directly (no prep CTE). */
  /** The sessionized-events subquery (client, ts, session_no) shared by
    * the w05 pair and j15 — ONE definition of the gap>1800 session rule
    * mirroring `Streaks.sessionize`, so the three oracles cannot drift
    * from each other. */
  private val SessionizedEvents: String =
    """SELECT client, ts,
      |       sum(new_sess) OVER (PARTITION BY client ORDER BY ts, id
      |                           ROWS UNBOUNDED PRECEDING) AS session_no FROM (
      |  SELECT client, ts, id,
      |         CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END AS new_sess FROM (
      |    SELECT client, ts, id,
      |           (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY client ORDER BY ts, id)) / 1e6 AS gap_s
      |    FROM prep))""".stripMargin

  val sessions: Map[String, String] = Map(
    "w05_sessionize" -> p(
      s"""SELECT client, CAST(session_no AS BIGINT) AS session_no, count(*) AS n_events,
         |       min(ts) AS session_start, max(ts) AS session_end FROM (
         |$SessionizedEvents)
         |GROUP BY client, session_no ORDER BY client, session_no""".stripMargin),

    "w05_session_summary" -> p(
      s"""SELECT client, count(*) AS n_sessions,
         |       round(avg(n_events), 4) AS avg_session_events,
         |       CAST(max(n_events) AS BIGINT) AS max_session_events FROM (
         |  SELECT client, session_no, count(*) AS n_events FROM (
         |$SessionizedEvents)
         |  GROUP BY client, session_no)
         |GROUP BY client ORDER BY client""".stripMargin),

    "a24_rollup_daily" -> p(
      """SELECT coalesce(CAST(date AS VARCHAR), 'ALL') AS date_k,
        |       coalesce(status_type, 'ALL') AS status_k,
        |       count(*) AS cnt
        |FROM prep GROUP BY ROLLUP (date, status_type)
        |ORDER BY date_k, status_k""".stripMargin),

    "a25_cube_period_status" -> p(
      """SELECT coalesce(day_period, 'ALL') AS period_k,
        |       coalesce(status_type, 'ALL') AS status_k,
        |       count(*) AS cnt
        |FROM prep GROUP BY CUBE (day_period, status_type)
        |ORDER BY period_k, status_k""".stripMargin),

    "a23_reply_percentiles" -> p(
      """SELECT round(quantile_cont(reply_time, 0.5) * 1000, 4) AS p50_ms,
        |       round(quantile_cont(reply_time, 0.9) * 1000, 4) AS p90_ms,
        |       round(quantile_cont(reply_time, 0.99) * 1000, 4) AS p99_ms
        |FROM prep WHERE reply_time IS NOT NULL""".stripMargin)
  )

  val joins: Map[String, String] = Map(
    // range join (point-in-interval): the binned equi-join's result is
    // checked against the plain range predicate — sessions of a client
    // are time-disjoint, so each Blocked event lands in exactly one
    "j15_range_join_sessions" -> (Prep +
      s""",
         |sess AS (
         |  SELECT client, CAST(session_no AS BIGINT) AS session_no,
         |         min(ts) AS session_start, max(ts) AS session_end FROM (
         |$SessionizedEvents)
         |  GROUP BY client, session_no)
         |SELECT b.client, b.id, b.ts, s.session_no
         |FROM (SELECT client, ts, id FROM prep WHERE status_type = 'Blocked') b
         |JOIN sess s ON s.client = b.client
         |           AND b.ts BETWEEN s.session_start AND s.session_end
         |ORDER BY b.client, b.id""".stripMargin),

    // DuckDB has native ASOF; our engine composes it from union+window —
    // the oracle checks the semantics match the canonical definition.
    "j05_asof_blocked_allowed" -> p(
      """SELECT l.client, l.id, l.ts, r.ts AS prev_allowed_ts,
        |       round((epoch_us(l.ts) - epoch_us(r.ts)) / 1e6, 6) AS gap_s
        |FROM (SELECT client, ts, id FROM prep WHERE status_type = 'Blocked') l
        |ASOF LEFT JOIN (SELECT client, ts FROM prep WHERE status_type = 'Allowed') r
        |  ON l.client = r.client AND r.ts <= l.ts
        |ORDER BY l.client, l.ts, l.id""".stripMargin),

    // the custom physical operator (AsOfJoinExec) must satisfy the SAME
    // canonical ASOF definition as the composed union+window form
    "j08_asof_blocked_allowed_native" -> p(
      """SELECT l.client, l.id, l.ts, r.ts AS prev_allowed_ts,
        |       round((epoch_us(l.ts) - epoch_us(r.ts)) / 1e6, 6) AS gap_s
        |FROM (SELECT client, ts, id FROM prep WHERE status_type = 'Blocked') l
        |ASOF LEFT JOIN (SELECT client, ts FROM prep WHERE status_type = 'Allowed') r
        |  ON l.client = r.client AND r.ts <= l.ts
        |ORDER BY l.client, l.ts, l.id""".stripMargin),

    // the aggregated gap pair (bench forms of j05/j08): identical SQL for
    // both implementations — same canonical ASOF semantics, aggregated so
    // the payload is consumed and neither side's join can be pruned
    "j12_asof_gap_stats" -> p(
      """SELECT l.client, count(*) AS n_blocked, count(r.ts) AS n_matched,
        |       round(sum(round((epoch_us(l.ts) - epoch_us(r.ts)) / 1e6, 6)), 3) AS sum_gap_s
        |FROM (SELECT client, ts, id FROM prep WHERE status_type = 'Blocked') l
        |ASOF LEFT JOIN (SELECT client, ts FROM prep WHERE status_type = 'Allowed') r
        |  ON l.client = r.client AND r.ts <= l.ts
        |GROUP BY l.client ORDER BY l.client""".stripMargin),

    "j13_asof_gap_stats_native" -> p(
      """SELECT l.client, count(*) AS n_blocked, count(r.ts) AS n_matched,
        |       round(sum(round((epoch_us(l.ts) - epoch_us(r.ts)) / 1e6, 6)), 3) AS sum_gap_s
        |FROM (SELECT client, ts, id FROM prep WHERE status_type = 'Blocked') l
        |ASOF LEFT JOIN (SELECT client, ts FROM prep WHERE status_type = 'Allowed') r
        |  ON l.client = r.client AND r.ts <= l.ts
        |GROUP BY l.client ORDER BY l.client""".stripMargin),

    // merge_asof tolerance semantics: DuckDB's ASOF finds the nearest
    // prior match; the 600 s bound is a post-CASE, exactly as the engine
    // applies it (a nearer in-tolerance row cannot exist by definition)
    "j14_asof_gap_stats_tol" -> p(
      """SELECT l.client, count(*) AS n_blocked,
        |       count(CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 600000000
        |             THEN 1 END) AS n_matched,
        |       round(sum(CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 600000000
        |             THEN round((epoch_us(l.ts) - epoch_us(r.ts)) / 1e6, 6) END), 3) AS sum_gap_s
        |FROM (SELECT client, ts, id FROM prep WHERE status_type = 'Blocked') l
        |ASOF LEFT JOIN (SELECT client, ts FROM prep WHERE status_type = 'Allowed') r
        |  ON l.client = r.client AND r.ts <= l.ts
        |GROUP BY l.client ORDER BY l.client""".stripMargin),

    // the broadcast (zero-left-shuffle) as-of form against a dim-sized
    // hourly rollup timeline; DuckDB's native ASOF is again the oracle
    "j09_asof_hourly_bcast" -> p(
      """SELECT l.client, l.id, l.ts, r.hour_ts, r.n_allowed
        |FROM (SELECT client, ts, id FROM prep WHERE status_type = 'Blocked') l
        |ASOF LEFT JOIN (
        |  SELECT client, date_trunc('hour', ts) AS hour_ts, count(*) AS n_allowed
        |  FROM prep WHERE status_type = 'Allowed' GROUP BY 1, 2) r
        |  ON l.client = r.client AND r.hour_ts <= l.ts
        |ORDER BY l.client, l.ts, l.id""".stripMargin),

    "h01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "h03_shipping_priority" ->
      """SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l.l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l.l_orderkey LIMIT 10""".stripMargin,

    "h05_region_revenue" ->
      """SELECT n.n_name,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n.n_name ORDER BY revenue DESC, n.n_name""".stripMargin,

    "h10_returned_revenue" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c.c_custkey LIMIT 20""".stripMargin,

    "h12_shipmode_priority" ->
      """SELECT l.l_linestatus,
        |  count(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_cnt,
        |  count(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_cnt
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_returnflag = 'N'
        |GROUP BY l.l_linestatus ORDER BY l.l_linestatus""".stripMargin,

    "h18_large_orders" ->
      """SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice, b.total_qty
        |FROM orders o
        |JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING round(sum(l_quantity), 2) > 250.0) b
        |  ON o.o_orderkey = b.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY b.total_qty DESC, o.o_orderkey""".stripMargin,

    "h_full_outer_calendar" ->
      """SELECT coalesce(ord.d, shp.d) AS d,
        |       coalesce(ord.n_orders, 0) AS n_orders,
        |       coalesce(shp.n_ships, 0) AS n_ships
        |FROM (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
        |      FROM orders GROUP BY 1) ord
        |FULL OUTER JOIN (SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS n_ships
        |                 FROM lineitem GROUP BY 1) shp
        |  ON ord.d = shp.d
        |ORDER BY d""".stripMargin,

    "h_topn_per_customer" ->
      """SELECT c_custkey, c_name, CAST(rnk AS INTEGER) AS rnk, o_orderkey, o_totalprice FROM (
        |  SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
        |         row_number() OVER (PARTITION BY c.c_custkey
        |                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rnk
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        |WHERE rnk <= 3 ORDER BY c_custkey, rnk""".stripMargin,

    "h_semi_urgent_customers" ->
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "h_anti_no_open_orders" ->
      """SELECT c_mktsegment, count(*) AS cnt FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "h13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "h14_promo_revenue" ->
      """SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
        |                              THEN l.l_extendedprice * (1 - l.l_discount)
        |                              ELSE 0.0 END)
        |             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_revenue_pct
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,

    "h15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_revenue
        |FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s.s_suppkey""".stripMargin,

    "h04_priority_returns" ->
      """SELECT o.o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "h07_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(o.o_orderdate) AS INT) AS l_year,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier su ON l.l_suppkey = su.s_suppkey
        |JOIN nation n1 ON su.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |   OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "h17_small_qty_revenue" ->
      """SELECT round(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#3'
        |WHERE l.l_quantity < (
        |  SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        |  WHERE l2.l_partkey = l.l_partkey)""".stripMargin,

    "h19_disjunctive_revenue" ->
      """SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
        |       AND l.l_quantity BETWEEN 10 AND 30)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
        |       AND l.l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "h21_sole_returned_supplier" ->
      """WITH lf AS (
        |  SELECT l.l_orderkey, l.l_suppkey, l.l_returnflag
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |r AS (SELECT l_orderkey, l_suppkey FROM lf WHERE l_returnflag = 'R')
        |SELECT s.s_name, count(DISTINCT r.l_orderkey) AS numwait
        |FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lf l2
        |              WHERE l2.l_orderkey = r.l_orderkey AND l2.l_suppkey <> r.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM r r2
        |                  WHERE r2.l_orderkey = r.l_orderkey AND r2.l_suppkey <> r.l_suppkey)
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name LIMIT 10""".stripMargin,

    "h22_idle_rich_customers" ->
      """SELECT c.c_nationkey, count(*) AS numcust,
        |  round(sum(c.c_acctbal), 2) AS totacctbal
        |FROM customer c
        |WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                     WHERE c2.c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "h02_min_cost_supplier" ->
      """WITH sup AS (
        |  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        |  FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'),
        |cost AS (
        |  SELECT l.l_partkey, l.l_suppkey, min(l.l_extendedprice) AS supply_cost
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |    AND p.p_size = 15 AND p.p_type = 'STANDARD'
        |  JOIN sup ON l.l_suppkey = sup.s_suppkey
        |  GROUP BY 1, 2)
        |SELECT sup.s_acctbal, sup.s_name, sup.n_name,
        |       c.l_partkey AS p_partkey, round(c.supply_cost, 2) AS supply_cost
        |FROM cost c JOIN sup ON c.l_suppkey = sup.s_suppkey
        |WHERE c.supply_cost = (SELECT min(c2.supply_cost) FROM cost c2
        |                       WHERE c2.l_partkey = c.l_partkey)
        |ORDER BY sup.s_acctbal DESC, sup.n_name, sup.s_name, p_partkey
        |LIMIT 20""".stripMargin,

    "h06_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "h08_market_share" ->
      """SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  round(sum(CASE WHEN n2.n_name = 'NATION_3'
        |                 THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
        |        / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS mkt_share
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'STANDARD'
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |WHERE o.o_custkey IN (
        |  SELECT c.c_custkey FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'ASIA')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "h09_product_profit" ->
      """SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS sum_profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%widget%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "h11_important_parts" ->
      """WITH lines AS (
        |  SELECT l.l_partkey, l.l_extendedprice
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_5')
        |SELECT l_partkey AS p_partkey, round(sum(l_extendedprice), 2) AS value
        |FROM lines GROUP BY 1
        |HAVING sum(l_extendedprice) > (SELECT sum(l_extendedprice) * 0.002 FROM lines)
        |ORDER BY value DESC, p_partkey""".stripMargin,

    "h16_parts_suppliers" ->
      """SELECT p.p_brand, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#5' AND p.p_size <= 10
        |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,

    "h20_promo_stock_suppliers" ->
      """SELECT s.s_suppkey, s.s_name
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'
        |WHERE s.s_suppkey IN (
        |  SELECT l.l_suppkey FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE 'red%'
        |  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l.l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l.l_suppkey, l.l_partkey
        |  HAVING sum(l.l_quantity) > 40.0)
        |ORDER BY s.s_suppkey""".stripMargin
  )

  /** Deterministic hash sampling + semi-structured extraction oracles. */
  /** The p09 curation chain (exact canonical, verified clusters,
    * quality, sample inputs) as a reusable CTE prefix — p09 selects
    * the curated corpus from it, p16 chunks the survivors. */
  private val CurationCtes: String = ("""WITH RECURSIVE sh AS (
      |  SELECT DISTINCT doc_id,
      |    w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] || ' ' || w[CAST(i AS INTEGER) + 2] AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
      |       unnest(generate_series(1, len(w) - 2)) t(i)
      |  WHERE len(w) >= 3),
      |sig AS (
      |  SELECT doc_id,
      |         """ + (0 until 16).map(i =>
        s"min(substr(md5('${i / 4}:' || s), ${(i % 4) * 8 + 1}, 8)) AS h$i").mkString(",\n         ") + """
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, b.band_idx,
      |    CASE b.band_idx
      |      """ + (0 until 4).map { b =>
        val slice = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || ',' || ")
        if (b < 3) s"WHEN $b THEN md5($slice)" else s"ELSE md5($slice)"
      }.mkString("\n      ") + """
      |    END AS band_key
      |  FROM sig, (VALUES (0), (1), (2), (3)) b(band_idx)),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT c.i, c.j, count(*) AS common
      |  FROM cands c JOIN sh a ON a.doc_id = c.i JOIN sh b ON b.doc_id = c.j AND b.s = a.s
      |  GROUP BY c.i, c.j),
      |vp AS (
      |  SELECT m.i, m.j FROM common m
      |  JOIN sizes si ON si.doc_id = m.i
      |  JOIN sizes sj ON sj.doc_id = m.j
      |  WHERE round(CAST(m.common AS DOUBLE) / (si.n + sj.n - m.common), 6) >= 0.8),
      |edges AS (SELECT i AS src, j AS dst FROM vp UNION ALL SELECT j, i FROM vp),
      |reach(node, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
      |comp AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
      |drop_near AS (
      |  SELECT c.doc_id FROM comp c
      |  JOIN (SELECT cluster_id, count(*) AS n_docs FROM comp GROUP BY cluster_id) n
      |    USING (cluster_id)
      |  WHERE n.n_docs > 1 AND c.doc_id <> c.cluster_id),
      |exact_kept AS (
      |  SELECT doc_id, lang, n_chars FROM (
      |    SELECT doc_id, lang, n_chars,
      |           min(doc_id) OVER (PARTITION BY md5(text)) AS min_id
      |    FROM documents) WHERE doc_id = min_id),
      |qual AS (
      |  SELECT doc_id,
      |    CAST(floor((least(CAST(n_tokens AS DOUBLE), 200.0) / 200.0 * 0.4
      |        + least(CAST(stop_hits AS DOUBLE) / greatest(n_tokens, 1) * 5.0, 1.0) * 0.3
      |        + (1.0 - least(CAST(punct_cnt AS DOUBLE) / greatest(n_tokens, 1) * 10.0, 1.0)) * 0.3
      |      ) * 1e6) AS DOUBLE) / 1e6 AS quality_score
      |  FROM (
      |    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |           len(regexp_extract_all(text, '[.,!?;:]')) AS punct_cnt,
      |           len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|that|it|was)\b')) AS stop_hits
      |    FROM documents))""").stripMargin

  val sampling: Map[String, String] = Map(
    "p06_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |ORDER BY doc_id""".stripMargin,

    "p07_stratified_summary" ->
      """SELECT lang, count(*) AS total,
        |  count(*) FILTER (WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40') AS sampled,
        |  round(CAST(count(*) FILTER (WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40') AS DOUBLE)
        |        / count(*), 6) AS rate
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // p17: the engine's map-side top-k heap vs the oracle's rank window —
    // the hash compare pins the heap's (score desc, id asc) order against
    // the declarative form; quality formula = t02's, bit-identical
    "p17_balanced_sources" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(floor((least(CAST(len(string_split(text, ' ')) AS DOUBLE), 200.0) / 200.0 * 0.4
        |      + least(CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|that|it|was)\b')) AS DOUBLE)
        |              / greatest(len(string_split(text, ' ')), 1) * 5.0, 1.0) * 0.3
        |      + (1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
        |                     / greatest(len(string_split(text, ' ')), 1) * 10.0, 1.0)) * 0.3
        |    ) * 1e6) AS DOUBLE) / 1e6 AS quality_score
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, quality_score,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY quality_score DESC, doc_id ASC) AS rank
        |  FROM q)
        |SELECT source, CAST(rank AS INTEGER) AS rank, doc_id, quality_score
        |FROM r WHERE rank <= 15 ORDER BY source, rank""".stripMargin,

    // p18: reproducible epoch-shuffle order — md5 over (seed ':' doc_id),
    // shard = first hex byte mod 16; both engines render the identical
    // hex string, so the permutation is pinned end-to-end
    "p18_shuffled_order" ->
      """SELECT CAST(CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) % 16 AS INTEGER) AS shard,
        |  md5('0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |  doc_id
        |FROM documents ORDER BY shard, shuffle_key""".stripMargin,

    // sequence packing: the oracle replays the window-cumsum semantic
    // spec (Packing.packSequencesWindow); the engine runs the two-pass
    // range-partition form — equality of the two is ALSO pinned in
    // PackingSpec, so this hash-compare transitively verifies the
    // scalable path. `//` everywhere: integer division, matching the
    // engine's `div` (never double-rounded).
    "p12_packed_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS cum_before
        |  FROM toks)
        |SELECT doc_id, n_tokens,
        |  cum_before // 2048 AS bin_id,
        |  cum_before % 2048 AS bin_offset,
        |  (cum_before % 2048 + n_tokens - 1) // 2048 + 1 AS bins_spanned
        |FROM cum ORDER BY doc_id""".stripMargin,

    "p13_bin_manifest" ->
      """WITH toks AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS cum_before
        |  FROM toks),
        |b AS (
        |  SELECT doc_id, n_tokens, cum_before // 2048 AS bin_id,
        |    (cum_before % 2048 + n_tokens - 1) // 2048 + 1 AS bins_spanned
        |  FROM cum)
        |SELECT bin_id,
        |  CAST(count(*) AS BIGINT) AS docs_started,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_started,
        |  min(doc_id) AS first_doc,
        |  max(bins_spanned) AS max_span
        |FROM b GROUP BY bin_id ORDER BY bin_id""".stripMargin,

    // DuckDB list slices are 1-based inclusive (w[a:b]), mirroring
    // Spark's 1-based slice(w, start, len); // floors where Spark's div
    // truncates, but both only disagree below the greatest(0, _) cut.
    "p14_chunked_docs" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, lang, w, CAST(i AS INTEGER) AS chunk_no
        |  FROM t, unnest(generate_series(0, greatest((len(w) - 64 + 47) // 48, 0))) s(i))
        |SELECT doc_id, lang, chunk_no,
        |  CAST(len(w[chunk_no*48+1 : chunk_no*48+64]) AS INTEGER) AS n_tokens,
        |  md5(array_to_string(w[chunk_no*48+1 : chunk_no*48+64], ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin,

    "p15_chunk_stats" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, lang, w, CAST(i AS INTEGER) AS chunk_no
        |  FROM t, unnest(generate_series(0, greatest((len(w) - 64 + 47) // 48, 0))) s(i)),
        |ch AS (
        |  SELECT lang, chunk_no,
        |    CAST(len(w[chunk_no*48+1 : chunk_no*48+64]) AS INTEGER) AS n_tokens,
        |    md5(array_to_string(w[chunk_no*48+1 : chunk_no*48+64], ' ')) AS chunk_hash
        |  FROM c)
        |SELECT lang, count(*) AS n_chunks,
        |  count(DISTINCT chunk_hash) AS n_distinct_chunks,
        |  round(avg(n_tokens), 6) AS avg_chunk_tokens,
        |  max(chunk_no) AS max_chunk_no
        |FROM ch GROUP BY lang ORDER BY lang""".stripMargin,

    // end-to-end curation: the d07 verified-cluster chain decides near-dup
    // drops; exact dedup, the t02 quality floor, and the p06 sample
    // predicate compose around it — one statement, same keep rules as
    // Pipeline.curate.
    "p09_curated_corpus" -> (CurationCtes + """
      |SELECT e.doc_id, e.lang, e.n_chars, q.quality_score
      |FROM exact_kept e JOIN qual q USING (doc_id)
      |WHERE e.doc_id NOT IN (SELECT doc_id FROM drop_near)
      |  AND q.quality_score >= 0.3
      |  AND substr(md5(CAST(e.doc_id AS VARCHAR)), 1, 2) < 'c0'
      |ORDER BY e.doc_id""".stripMargin),

    // the corpus -> training-chunks handoff: p09's keep set, texts
    // re-attached by semi-join, then the p14 chunker over the survivors
    // leakage-safe split: the md5 bucket is taken on each doc's
    // verified-cluster min-label REPRESENTATIVE (comp covers every doc;
    // singletons represent themselves), so a near-dup cluster moves as
    // one unit — test = first 32/256 of hash space, val the next 32
    "p20_leakage_safe_split" -> (CurationCtes + """
      |SELECT c.doc_id, c.cluster_id AS rep_id,
      |  CASE WHEN substr(md5(CAST(c.cluster_id AS VARCHAR)), 1, 2) < '20' THEN 'test'
      |       WHEN substr(md5(CAST(c.cluster_id AS VARCHAR)), 1, 2) < '40' THEN 'val'
      |       ELSE 'train' END AS split
      |FROM comp c ORDER BY c.doc_id""".stripMargin),

    // span-aware leakage split: the p20 component graph UNIONED with
    // span-sharing star edges (each doc links to its shared t11 span's
    // min-doc_id owner — same components as the clique, linear edges);
    // reach2 re-runs the min-label fixpoint over the combined graph
    "p21_leakage_safe_split_spans" -> (CurationCtes + """,
      |segs2 AS (
      |  SELECT doc_id,
      |         array_to_string(w[CAST(i*8+1 AS INTEGER):CAST(i*8+8 AS INTEGER)], ' ') AS seg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
      |       unnest(generate_series(0, greatest(0, (len(w) - 1) // 8))) t(i)
      |  WHERE len(string_split(array_to_string(w[CAST(i*8+1 AS INTEGER):CAST(i*8+8 AS INTEGER)], ' '), ' ')) = 8),
      |span_owner AS (SELECT seg, min(doc_id) AS owner FROM segs2 GROUP BY seg),
      |span_edges AS (
      |  SELECT DISTINCT o.owner AS i, s.doc_id AS j
      |  FROM segs2 s JOIN span_owner o ON o.seg = s.seg AND s.doc_id <> o.owner),
      |all_edges AS (
      |  SELECT src, dst FROM edges
      |  UNION SELECT i, j FROM span_edges
      |  UNION SELECT j, i FROM span_edges),
      |reach2(node, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, r.lab FROM reach2 r JOIN all_edges e ON e.src = r.node)
      |SELECT node AS doc_id, min(lab) AS rep_id,
      |  CASE WHEN substr(md5(CAST(min(lab) AS VARCHAR)), 1, 2) < '20' THEN 'test'
      |       WHEN substr(md5(CAST(min(lab) AS VARCHAR)), 1, 2) < '40' THEN 'val'
      |       ELSE 'train' END AS split
      |FROM reach2 GROUP BY node ORDER BY doc_id""".stripMargin),

    // DSIR mirror: hashed 1/2-gram buckets (md5-prefix % 4096), Laplace-
    // smoothed LLR vs the lang='en' target, Gumbel key from md5(seed:id),
    // rank window = the engine's two-pass zipWithIndex rank
    "p22_dsir_selected" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id, lang, w[CAST(i AS INTEGER)] AS gram
        |  FROM toks, unnest(generate_series(1, len(w))) t(i)
        |  UNION ALL
        |  SELECT doc_id, lang, w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] AS gram
        |  FROM toks, unnest(generate_series(1, len(w) - 1)) t(i)
        |  WHERE len(w) >= 2),
        |db AS (
        |  SELECT doc_id, bool_or(lang = 'en') AS tgt,
        |         (('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096) AS bucket,
        |         count(*) AS c
        |  FROM grams GROUP BY 1, 3),
        |dist AS (SELECT bucket, sum(c) AS rawc, sum(c) FILTER (WHERE tgt) AS tgtc
        |         FROM db GROUP BY 1),
        |tot AS (SELECT sum(c) AS rtot, sum(c) FILTER (WHERE tgt) AS ttot FROM db),
        |lr AS (SELECT bucket,
        |         ln((coalesce(tgtc, 0) + 1.0) / (ttot + 4096.0))
        |         - ln((rawc + 1.0) / (rtot + 4096.0)) AS logr
        |       FROM dist, tot),
        |scored AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_feats, round(sum(c * logr), 6) AS score
        |  FROM db JOIN lr USING (bucket) GROUP BY 1),
        |keyed AS (
        |  SELECT *, round(score - ln(-ln(
        |    ((('0x' || substr(md5('0:' || doc_id), 1, 8))::BIGINT) + 0.5) / 4294967296.0)),
        |    6) AS gumbel_key
        |  FROM scored),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS rank
        |  FROM keyed)
        |SELECT doc_id, n_feats, score, gumbel_key, rank,
        |       rank <= ceil(0.25 * (SELECT count(*) FROM scored)) AS selected
        |FROM ranked ORDER BY doc_id""".stripMargin,

    // p24: interpolated hashed-bigram LM perplexity — the reference
    // model (lang='en') counts over the DSIR 4096-bucket md5 space; per
    // pair lp = ln(0.7·(c2+1)/(c1_prev+B) + (1−0.7)·(c1_cur+1)/(T+B)).
    // The interpolation weight is WRITTEN as (1.0 - 0.7) on both
    // engines: the literal 0.3 parses to a DIFFERENT double than the
    // IEEE subtraction, and nll rounds at 6dp. ppl = exp of the ROUNDED
    // nll, at 2dp (exp's last-ulp spread at e^8 sits too close to a 6dp
    // quantum).
    "p24_lm_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
        |refuni AS (
        |  SELECT (('0x' || substr(md5(w[CAST(i AS INTEGER)]), 1, 8))::BIGINT % 4096) AS bucket,
        |         count(*) AS c1
        |  FROM toks, unnest(generate_series(1, len(w))) t(i)
        |  WHERE lang = 'en' GROUP BY 1),
        |refbi AS (
        |  SELECT (('0x' || substr(md5(w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1]), 1, 8))::BIGINT % 4096) AS bucket,
        |         count(*) AS c2
        |  FROM toks, unnest(generate_series(1, len(w) - 1)) t(i)
        |  WHERE lang = 'en' AND len(w) >= 2 GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS t FROM refuni),
        |pairs AS (
        |  SELECT doc_id,
        |    (('0x' || substr(md5(w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1]), 1, 8))::BIGINT % 4096) AS b2,
        |    (('0x' || substr(md5(w[CAST(i AS INTEGER)]), 1, 8))::BIGINT % 4096) AS bprev,
        |    (('0x' || substr(md5(w[CAST(i AS INTEGER) + 1]), 1, 8))::BIGINT % 4096) AS bcur
        |  FROM toks, unnest(generate_series(1, len(w) - 1)) t(i)
        |  WHERE len(w) >= 2),
        |lp AS (
        |  SELECT doc_id,
        |    ln(0.7 * (coalesce(b2c.c2, 0) + 1.0) / (coalesce(cp.c1, 0) + 4096.0)
        |     + (1.0 - 0.7) * (coalesce(cc.c1, 0) + 1.0) / ((SELECT t FROM tot) + 4096.0)) AS lp
        |  FROM pairs
        |  LEFT JOIN refbi b2c ON b2c.bucket = pairs.b2
        |  LEFT JOIN refuni cp ON cp.bucket = pairs.bprev
        |  LEFT JOIN refuni cc ON cc.bucket = pairs.bcur),
        |scored AS (
        |  SELECT doc_id, count(*) AS n_pairs,
        |    round(-sum(lp) / count(*), 6) AS nll,
        |    round(exp(round(-sum(lp) / count(*), 6)), 2) AS ppl
        |  FROM lp GROUP BY doc_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY nll, doc_id) AS r,
        |         count(*) OVER () AS n
        |  FROM scored)
        |SELECT doc_id, n_pairs, nll, ppl,
        |  CASE WHEN r <= ceil(n / 3.0) THEN 'head'
        |       WHEN r <= ceil(2.0 * n / 3.0) THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket,
        |  (CASE WHEN r <= ceil(n / 3.0) THEN 'head'
        |        WHEN r <= ceil(2.0 * n / 3.0) THEN 'middle'
        |        ELSE 'tail' END) <> 'tail' AS keep
        |FROM ranked ORDER BY doc_id""".stripMargin,

    // temperature-sampling mirror: rate = (n/nmin)^(alpha-1) rounded 6dp,
    // membership = the same md5-uniform draw the engine projects
    "p23_temperature_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n) AS nmin FROM c),
        |r AS (SELECT lang, n, round(pow(n::DOUBLE / nmin, -0.7), 6) AS rate FROM c, m)
        |SELECT d.lang, r.n AS total,
        |  count(*) FILTER (WHERE
        |    ((('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT) + 0.5) / 4294967296.0
        |      < r.rate) AS kept,
        |  r.rate
        |FROM documents d JOIN r USING (lang)
        |GROUP BY 1, 2, 4 ORDER BY 1""".stripMargin,

    "p16_curated_chunks" -> (CurationCtes + """,
      |kept AS (
      |  SELECT e.doc_id FROM exact_kept e JOIN qual q USING (doc_id)
      |  WHERE e.doc_id NOT IN (SELECT doc_id FROM drop_near)
      |    AND q.quality_score >= 0.3
      |    AND substr(md5(CAST(e.doc_id AS VARCHAR)), 1, 2) < 'c0'),
      |t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
      |      FROM documents JOIN kept USING (doc_id)),
      |c AS (SELECT doc_id, lang, w, CAST(i AS INTEGER) AS chunk_no
      |      FROM t, unnest(generate_series(0, greatest((len(w) - 64 + 47) // 48, 0))) s(i))
      |SELECT doc_id, lang, chunk_no,
      |  CAST(len(w[chunk_no*48+1 : chunk_no*48+64]) AS INTEGER) AS n_tokens,
      |  md5(array_to_string(w[chunk_no*48+1 : chunk_no*48+64], ' ')) AS chunk_hash
      |FROM c ORDER BY doc_id, chunk_no""".stripMargin),

    // p25: the composed pipeline with the LM-perplexity gate — the p24
    // machinery (hashed-bigram interpolated LM, CCNet terciles) applied
    // to the QUALITY SURVIVORS (model trained on their en slice,
    // terciles over their scored pool), tail dropped, unscored (< 2
    // token) docs passed through, then the p16 sample + chunker.
    "p25_curated_chunks_lm" -> (CurationCtes + """,
      |surv AS (
      |  SELECT e.doc_id FROM exact_kept e JOIN qual q USING (doc_id)
      |  WHERE e.doc_id NOT IN (SELECT doc_id FROM drop_near)
      |    AND q.quality_score >= 0.3),
      |ptoks AS (
      |  SELECT d.doc_id, d.lang, string_split(lower(d.text), ' ') AS w
      |  FROM documents d JOIN surv USING (doc_id)),
      |refuni AS (
      |  SELECT (('0x' || substr(md5(w[CAST(i AS INTEGER)]), 1, 8))::BIGINT % 4096) AS bucket,
      |         count(*) AS c1
      |  FROM ptoks, unnest(generate_series(1, len(w))) t(i)
      |  WHERE lang = 'en' GROUP BY 1),
      |refbi AS (
      |  SELECT (('0x' || substr(md5(w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1]), 1, 8))::BIGINT % 4096) AS bucket,
      |         count(*) AS c2
      |  FROM ptoks, unnest(generate_series(1, len(w) - 1)) t(i)
      |  WHERE lang = 'en' AND len(w) >= 2 GROUP BY 1),
      |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS t FROM refuni),
      |ppairs AS (
      |  SELECT doc_id,
      |    (('0x' || substr(md5(w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1]), 1, 8))::BIGINT % 4096) AS b2,
      |    (('0x' || substr(md5(w[CAST(i AS INTEGER)]), 1, 8))::BIGINT % 4096) AS bprev,
      |    (('0x' || substr(md5(w[CAST(i AS INTEGER) + 1]), 1, 8))::BIGINT % 4096) AS bcur
      |  FROM ptoks, unnest(generate_series(1, len(w) - 1)) t(i)
      |  WHERE len(w) >= 2),
      |plp AS (
      |  SELECT doc_id,
      |    ln(0.7 * (coalesce(b2c.c2, 0) + 1.0) / (coalesce(cp.c1, 0) + 4096.0)
      |     + (1.0 - 0.7) * (coalesce(cc.c1, 0) + 1.0) / ((SELECT t FROM tot) + 4096.0)) AS lp
      |  FROM ppairs
      |  LEFT JOIN refbi b2c ON b2c.bucket = ppairs.b2
      |  LEFT JOIN refuni cp ON cp.bucket = ppairs.bprev
      |  LEFT JOIN refuni cc ON cc.bucket = ppairs.bcur),
      |pscored AS (
      |  SELECT doc_id, round(-sum(lp) / count(*), 6) AS nll
      |  FROM plp GROUP BY doc_id),
      |pranked AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY nll, doc_id) AS r,
      |         count(*) OVER () AS n
      |  FROM pscored),
      |ptail AS (SELECT doc_id FROM pranked WHERE r > ceil(2.0 * n / 3.0)),
      |kept AS (
      |  SELECT doc_id FROM surv
      |  WHERE doc_id NOT IN (SELECT doc_id FROM ptail)
      |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'),
      |t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
      |      FROM documents JOIN kept USING (doc_id)),
      |c AS (SELECT doc_id, lang, w, CAST(i AS INTEGER) AS chunk_no
      |      FROM t, unnest(generate_series(0, greatest((len(w) - 64 + 47) // 48, 0))) s(i))
      |SELECT doc_id, lang, chunk_no,
      |  CAST(len(w[chunk_no*48+1 : chunk_no*48+64]) AS INTEGER) AS n_tokens,
      |  md5(array_to_string(w[chunk_no*48+1 : chunk_no*48+64], ' ')) AS chunk_hash
      |FROM c ORDER BY doc_id, chunk_no""".stripMargin),

    // TRY_CAST mirrors Spark's tolerant cast (malformed k -> NULL, not an
    // error), and the double-% flooring mirrors pmod so negative k buckets
    // to the decade BELOW zero on both engines — DuckDB's plain k0 % 10
    // follows the dividend's sign and would bucket -7 to 0, not -10.
    "p08_json_props" ->
      """SELECT k_decade, count(*) AS n,
        |  round(sum(value), 2) AS sum_value,
        |  round(avg(value), 6) AS avg_value
        |FROM (SELECT k0 - ((k0 % 10) + 10) % 10 AS k_decade, value FROM (
        |  SELECT TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k0, value FROM events))
        |GROUP BY k_decade ORDER BY k_decade""".stripMargin,

    // from_json's typed parse mirrored with per-path extraction — on
    // clean documents the two agree; both map malformed docs to NULL.
    "p10_json_typed" ->
      """SELECT event_type, count(*) AS n,
        |  count(k) AS n_parsed, min(k) AS min_k, max(k) AS max_k,
        |  round(avg(k), 6) AS avg_k
        |FROM (SELECT event_type,
        |        TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin
  )

  // ---- dedup / similarity oracles (documents, embeddings tables) ----
  // These mirror graft.operators.{Dedup, Similarity} stage by stage; all
  // hashes are md5 (bit-identical across engines) and all floats are
  // rounded identically, so the full pipelines hash-compare.

  /** Shingle + MinHash-signature + LSH-band CTE chain (k=16, 4 bands,
    * word trigrams) — mirrors Dedup.wordShingles/signaturesFrom/
    * lshCandidates. */
  private val minhashCtes: String = {
    // h_i = the (i mod 4)-th 8-hex-char slice of md5('<i/4>:' || s) —
    // mirrors Dedup.signaturesFrom's slice-based hash family exactly.
    val sigCols = (0 until 16).map(i =>
      s"min(substr(md5('${i / 4}:' || s), ${(i % 4) * 8 + 1}, 8)) AS h$i").mkString(",\n         ")
    val bandCase = (0 until 4).map { b =>
      val slice = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || ',' || ")
      if (b < 3) s"WHEN $b THEN md5($slice)" else s"ELSE md5($slice)"
    }.mkString("\n      ")
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id,
       |    w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] || ' ' || w[CAST(i AS INTEGER) + 2] AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
       |       unnest(generate_series(1, len(w) - 2)) t(i)
       |  WHERE len(w) >= 3),
       |sig AS (
       |  SELECT doc_id,
       |         $sigCols
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b.band_idx,
       |    CASE b.band_idx
       |      $bandCase
       |    END AS band_key
       |  FROM sig, (VALUES (0), (1), (2), (3)) b(band_idx)),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** SimHash CTE chain — mirrors Dedup.simhash: md5 per token, nibble per
    * hex position, ±1 vote sums per bit, majority reassembly. */
  private val simhashCte: String = {
    val nibCols = (0 until 16)
      .map(p => s"strpos('0123456789abcdef', substr(h, ${p + 1}, 1)) - 1 AS n$p")
      .mkString(",\n         ")
    val voteCols = (for (p <- 0 until 16; b <- 3 to 0 by -1)
      yield s"sum(CASE WHEN ((n$p >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v${p}_$b")
      .mkString(",\n         ")
    val digitExprs = (0 until 16).map { p =>
      val d = (3 to 0 by -1).map(b => s"(CASE WHEN v${p}_$b > 0 THEN ${1 << b} ELSE 0 END)").mkString(" + ")
      s"substr('0123456789abcdef', ($d) + 1, 1)"
    }.mkString(" ||\n         ")
    s"""WITH tok AS (
       |  SELECT doc_id, md5(w) AS h FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0),
       |nibs AS (
       |  SELECT doc_id,
       |         $nibCols
       |  FROM tok),
       |votes AS (
       |  SELECT doc_id,
       |         $voteCols
       |  FROM nibs GROUP BY doc_id),
       |sim AS (
       |  SELECT doc_id,
       |         $digitExprs AS simhash
       |  FROM votes)""".stripMargin
  }

  val dedup: Map[String, String] = Map(
    "d01_exact_summary" ->
      """SELECT count(*) AS total_docs,
        |       count(DISTINCT md5(text)) AS distinct_texts,
        |       count(*) - count(DISTINCT md5(text)) AS removed
        |FROM documents""".stripMargin,

    "d01_exact_groups" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // decontamination: corpus docs sharing >= 2 distinct word-trigrams
    // with the src0 "benchmark" slice; per-doc totals and hits counted
    // in one left-join pass, exactly like the engine
    "d12_decontaminated" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] || ' ' || w[CAST(i AS INTEGER) + 2] AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
        |       unnest(generate_series(1, len(w) - 2)) t(i)
        |  WHERE len(w) >= 3),
        |ev AS (
        |  SELECT DISTINCT s FROM sh JOIN documents USING (doc_id)
        |  WHERE source = 'src0'),
        |agg AS (
        |  SELECT sh.doc_id, count(*) AS n_shingles, count(ev.s) AS n_overlap
        |  FROM sh JOIN documents d USING (doc_id)
        |  LEFT JOIN ev ON ev.s = sh.s
        |  WHERE d.source <> 'src0'
        |  GROUP BY sh.doc_id)
        |SELECT doc_id, n_shingles, n_overlap,
        |  round(CAST(n_overlap AS DOUBLE) / n_shingles, 6) AS overlap_frac
        |FROM agg WHERE n_overlap >= 2 ORDER BY doc_id""".stripMargin,

    // d14: fuzzy (near-dup) decontamination — the d02 MinHash banding
    // joined ACROSS corpora (train sigs × eval sigs on band key), exact
    // Jaccard on the candidate sliver, threshold 0.5
    "d14_fuzzy_decontam" -> {
      val sigCols = (0 until 16).map(i =>
        s"min(substr(md5('${i / 4}:' || s), ${(i % 4) * 8 + 1}, 8)) AS h$i").mkString(",\n         ")
      val bandCase = (0 until 4).map { b =>
        val slice = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || ',' || ")
        if (b < 3) s"WHEN $b THEN md5($slice)" else s"ELSE md5($slice)"
      }.mkString("\n      ")
      s"""WITH sh AS (
         |  SELECT DISTINCT d.doc_id, d.source,
         |    w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] || ' ' || w[CAST(i AS INTEGER) + 2] AS s
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents) d,
         |       unnest(generate_series(1, len(w) - 2)) t(i)
         |  WHERE len(w) >= 3),
         |sigT AS (
         |  SELECT doc_id,
         |         $sigCols
         |  FROM sh WHERE source <> 'src0' GROUP BY doc_id),
         |sigE AS (
         |  SELECT doc_id,
         |         $sigCols
         |  FROM sh WHERE source = 'src0' GROUP BY doc_id),
         |bandsT AS (
         |  SELECT doc_id, b.band_idx,
         |    CASE b.band_idx
         |      $bandCase
         |    END AS band_key
         |  FROM sigT, (VALUES (0), (1), (2), (3)) b(band_idx)),
         |bandsE AS (
         |  SELECT doc_id, b.band_idx,
         |    CASE b.band_idx
         |      $bandCase
         |    END AS band_key
         |  FROM sigE, (VALUES (0), (1), (2), (3)) b(band_idx)),
         |cands AS (
         |  SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
         |  FROM bandsT t JOIN bandsE e
         |    ON t.band_idx = e.band_idx AND t.band_key = e.band_key),
         |nt AS (SELECT doc_id, count(*) AS n_train FROM sh WHERE source <> 'src0' GROUP BY 1),
         |ne AS (SELECT doc_id AS eval_id, count(*) AS n_eval FROM sh WHERE source = 'src0' GROUP BY 1),
         |com AS (
         |  SELECT c.doc_id, c.eval_id, count(*) AS common
         |  FROM cands c
         |  JOIN sh a ON a.doc_id = c.doc_id
         |  JOIN sh b ON b.doc_id = c.eval_id AND b.s = a.s
         |  GROUP BY 1, 2)
         |SELECT m.doc_id, m.eval_id, m.common, nt.n_train, ne.n_eval,
         |  round(CAST(m.common AS DOUBLE) / (nt.n_train + ne.n_eval - m.common), 6) AS jac
         |FROM com m JOIN nt USING (doc_id) JOIN ne USING (eval_id)
         |WHERE round(CAST(m.common AS DOUBLE) / (nt.n_train + ne.n_eval - m.common), 6) >= 0.5
         |ORDER BY m.doc_id, m.eval_id""".stripMargin
    },

    // Bloom-filter decontamination, checked via the sketch-contract
    // pattern (the a11 treatment): the exact row set and counts are
    // reproduced here; the Bloom side's no-false-negative guarantee and
    // its hygiene-safety corollary are Spark-computed booleans this SQL
    // asserts TRUE on every exactly-contaminated doc
    "d13_decontam_bloom" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] || ' ' || w[CAST(i AS INTEGER) + 2] AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
        |       unnest(generate_series(1, len(w) - 2)) t(i)
        |  WHERE len(w) >= 3),
        |ev AS (
        |  SELECT DISTINCT s FROM sh JOIN documents USING (doc_id)
        |  WHERE source = 'src0'),
        |agg AS (
        |  SELECT sh.doc_id, count(*) AS n_shingles, count(ev.s) AS n_overlap
        |  FROM sh JOIN documents d USING (doc_id)
        |  LEFT JOIN ev ON ev.s = sh.s
        |  WHERE d.source <> 'src0'
        |  GROUP BY sh.doc_id)
        |SELECT doc_id, n_shingles, n_overlap,
        |  TRUE AS bloom_no_false_neg, TRUE AS bloom_flagged
        |FROM agg WHERE n_overlap >= 2 ORDER BY doc_id""".stripMargin,

    "d02_minhash_cands" -> (minhashCtes + "\nSELECT i, j FROM cands ORDER BY i, j"),

    // Connected components as a recursive CTE: reach(node, lab) holds
    // every (member, member) pair of a component once the fixpoint is
    // reached (edges are symmetric), so min(lab) per node = the
    // component's min doc_id — the same fixpoint the Spark min-label
    // propagation computes.
    // Kirsch-Mitzenmacher fast path: one md5 per shingle, two 56-bit hex
    // halves, k derived hashes by exact modular arithmetic — mirrors
    // Dedup.lshCandidatesFast bit for bit.
    "d09_minhash_cands_fast" -> {
      val gCols = (0 until 16).map(i =>
        s"min((h1 + $i * h2) % 2305843009213693951) AS g$i").mkString(",\n         ")
      val bandCase = (0 until 4).map { b =>
        val slice = (0 until 4).map(r => s"g${b * 4 + r}").mkString(" || ',' || ")
        if (b < 3) s"WHEN $b THEN md5($slice)" else s"ELSE md5($slice)"
      }.mkString("\n      ")
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id,
         |    w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] || ' ' || w[CAST(i AS INTEGER) + 2] AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
         |       unnest(generate_series(1, len(w) - 2)) t(i)
         |  WHERE len(w) >= 3),
         |hashed AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(s), 1, 14)) AS BIGINT) AS h1,
         |         CAST(('0x' || substr(md5(s), 18, 14)) AS BIGINT) AS h2
         |  FROM sh),
         |sig AS (
         |  SELECT doc_id,
         |         $gCols
         |  FROM hashed GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, b.band_idx,
         |    CASE b.band_idx
         |      $bandCase
         |    END AS band_key
         |  FROM sig, (VALUES (0), (1), (2), (3)) b(band_idx)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
         |SELECT i, j FROM cands ORDER BY i, j""".stripMargin
    },

    // classic DP Levenshtein in both engines — exact integer compare
    "d08_edit_verified" -> (minhashCtes + """
      |SELECT c.i, c.j, levenshtein(a.text, b.text) AS edit_dist
      |FROM cands c
      |JOIN documents a ON a.doc_id = c.i
      |JOIN documents b ON b.doc_id = c.j
      |WHERE levenshtein(a.text, b.text) <= 20
      |ORDER BY c.i, c.j""".stripMargin),

    "d06_dup_clusters" -> (minhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
      |edges AS (
      |  SELECT i AS src, j AS dst FROM cands
      |  UNION ALL SELECT j, i FROM cands),
      |reach(node, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
      |comp AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
      |SELECT c.doc_id, c.cluster_id, n.n_docs
      |FROM comp c JOIN (SELECT cluster_id, count(*) AS n_docs
      |                  FROM comp GROUP BY cluster_id) n USING (cluster_id)
      |WHERE n.n_docs > 1 ORDER BY c.cluster_id, c.doc_id""".stripMargin),

    "d03_jaccard_dups" -> (minhashCtes + """,
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT c.i, c.j, count(*) AS common
      |  FROM cands c JOIN sh a ON a.doc_id = c.i JOIN sh b ON b.doc_id = c.j AND b.s = a.s
      |  GROUP BY c.i, c.j)
      |SELECT m.i, m.j, m.common,
      |       round(CAST(m.common AS DOUBLE) / (si.n + sj.n - m.common), 6) AS jaccard
      |FROM common m
      |JOIN sizes si ON si.doc_id = m.i
      |JOIN sizes sj ON sj.doc_id = m.j
      |WHERE round(CAST(m.common AS DOUBLE) / (si.n + sj.n - m.common), 6) >= 0.8
      |ORDER BY m.i, m.j""".stripMargin),

    // the incremental chain's SEMANTIC spec: the full verify chain
    // filtered to pairs touching the "new" bucket — by the per-doc band
    // invariant these are identical (the engine computes only the new
    // docs' band probes; the oracle recomputes everything and filters)
    "d11_incremental_pairs" -> (minhashCtes + """,
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT c.i, c.j, count(*) AS common
      |  FROM cands c JOIN sh a ON a.doc_id = c.i JOIN sh b ON b.doc_id = c.j AND b.s = a.s
      |  GROUP BY c.i, c.j)
      |SELECT m.i, m.j, m.common,
      |       round(CAST(m.common AS DOUBLE) / (si.n + sj.n - m.common), 6) AS jaccard
      |FROM common m
      |JOIN sizes si ON si.doc_id = m.i
      |JOIN sizes sj ON sj.doc_id = m.j
      |WHERE round(CAST(m.common AS DOUBLE) / (si.n + sj.n - m.common), 6) >= 0.8
      |  AND (m.i % 10 = 7 OR m.j % 10 = 7)
      |ORDER BY m.i, m.j""".stripMargin),

    // d03's verification chain + the d06 recursive-components tail, but
    // over the VERIFIED pairs — the full dedup pipeline as one statement.
    "d07_verified_clusters" -> (minhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT c.i, c.j, count(*) AS common
      |  FROM cands c JOIN sh a ON a.doc_id = c.i JOIN sh b ON b.doc_id = c.j AND b.s = a.s
      |  GROUP BY c.i, c.j),
      |vp AS (
      |  SELECT m.i, m.j FROM common m
      |  JOIN sizes si ON si.doc_id = m.i
      |  JOIN sizes sj ON sj.doc_id = m.j
      |  WHERE round(CAST(m.common AS DOUBLE) / (si.n + sj.n - m.common), 6) >= 0.8),
      |edges AS (SELECT i AS src, j AS dst FROM vp UNION ALL SELECT j, i FROM vp),
      |reach(node, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
      |comp AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
      |SELECT c.doc_id, c.cluster_id, n.n_docs
      |FROM comp c JOIN (SELECT cluster_id, count(*) AS n_docs
      |                  FROM comp GROUP BY cluster_id) n USING (cluster_id)
      |WHERE n.n_docs > 1 ORDER BY c.cluster_id, c.doc_id""".stripMargin),

    "d04_simhash" -> (simhashCte + "\nSELECT doc_id, simhash FROM sim ORDER BY doc_id"),

    "d05_simhash_cands" -> (simhashCte + """,
      |ch AS (
      |  SELECT doc_id, c.chunk_idx, substr(simhash, c.chunk_idx * 4 + 1, 4) AS chunk
      |  FROM sim, (VALUES (0), (1), (2), (3)) c(chunk_idx))
      |SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |FROM ch a JOIN ch b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      |ORDER BY i, j""".stripMargin),

    // candidates + exact Hamming over the two 32-bit signature halves
    "d10_simhash_verified" -> (simhashCte + """,
      |ch AS (
      |  SELECT doc_id, c.chunk_idx, substr(simhash, c.chunk_idx * 4 + 1, 4) AS chunk
      |  FROM sim, (VALUES (0), (1), (2), (3)) c(chunk_idx)),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |  FROM ch a JOIN ch b
      |    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      |h AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(simhash, 1, 8)) AS BIGINT) AS h1,
      |         CAST(('0x' || substr(simhash, 9, 8)) AS BIGINT) AS h2
      |  FROM sim)
      |SELECT c.i, c.j,
      |  CAST(bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) AS INTEGER) AS hamming
      |FROM cands c JOIN h a ON a.doc_id = c.i JOIN h b ON b.doc_id = c.j
      |WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 3
      |ORDER BY c.i, c.j""".stripMargin)
  )

  // ---- ANN mirror building blocks (s02/s04/s05/s06/s08). These were
  // rows-only until round 5; every stage of each ANN pipeline is in fact
  // engine-portable once the hashing is md5-derived and the float folds
  // are mirrored operation-for-operation:
  //  - ddot: double-list dot as a LEFT FOLD over in-order products —
  //    list_reduce((a,b)->a+b) reproduces Spark's aggregate(zip_with(..),
  //    0.0, _+_) bit-for-bit (0.0+x0 == x0);
  //  - fdot/fnorm: the FLOAT-domain variant (float multiply, double
  //    accumulate) matching graft.functions.DotProduct on float arrays;
  //  - planes: Rademacher ±1 hyperplane components from md5 parity —
  //    no transcendental functions, so no cross-libm ulp hazard;
  //  - lloyd/pqLloyd: the k-means iterations UNROLLED (iterations=2 is a
  //    query parameter, not data-dependent), with the same
  //    empty-cell-keeps-previous-centroid rule as the Spark side.
  // k-means means use avg(): the one place summation order is not pinned
  // across engines; a divergence needs two centroids equidistant from a
  // vector to ~1e-15 relative — measured safe at sf0.001/0.01/0.1.

  private def ddot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a,$b),p->p[1]*p[2]),(x,y)->x+y)"
  private def dist2(v: String, c: String): String =
    s"(${ddot(v, v)} - 2.0*${ddot(v, c)} + ${ddot(c, c)})"
  private def fdot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a,$b),p->CAST(p[1]*p[2] AS DOUBLE)),(x,y)->x+y)"
  private def fnorm(v: String): String =
    s"sqrt(list_reduce(list_transform($v, x->CAST(x*x AS DOUBLE)),(a,b)->a+b))"

  /** Σ_j [dot(v, plane_j) ≥ 0]·2^j over md5-parity ±1 planes; DuckDB
    * lambda indexes are 1-based, Spark's sequence is 0-based → (i-1).
    * Hash table 0's plane set — mirrors Similarity.bucketId at
    * planeOffset 0. */
  private def lshBucket(planes: Int): String =
    (0 until planes).map { j =>
      val pc = s"(CASE WHEN ascii(substr(md5('$j:' || (i-1)),1,1))%2=1 THEN 1.0 ELSE -1.0 END)"
      s"(CASE WHEN list_reduce(list_transform(v,(x,i)->x*$pc),(a,b)->a+b) >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("\n         + ")

  /** The banded-LSH ANY-table-matches pair predicate over one bucket
    * column per hash table (b0..b{tables-1}) — the OR join is set-equal
    * to Spark's per-table union + distinct. */
  private def bandedMatch(tables: Int): String =
    (0 until tables).map(t => s"a.b$t = c.b$t").mkString(" OR ")

  /** The scalar CTE carrying the ADAPTIVE plane count — mirrors
    * Similarity.adaptivePlanes (smallest p with 64·2^p ≥ n, floor 4):
    * `greatest(4, ceil(log2(n/64.0)))` agrees with the engine's integer
    * form exactly, including at power-of-two boundaries where log2 is
    * exact in IEEE arithmetic. */
  private val adaptivePlanesCte: String =
    // least(24, …) mirrors the engine's cap: without it, past 64·2^24
    // vectors pp.planes would exceed 24 and the generated plane id
    // `t · pp.planes + j` would misalign with the engine's planeOffset
    // t·24 for every table t ≥ 1 (buckets diverge, verify misreports)
    "pp AS (SELECT greatest(4, least(24, CAST(ceil(log2(count(*) / 64.0)) AS INTEGER))) AS planes FROM embeddings)"

  /** Adaptive variant of [[lshBucket]]: bit j of table t participates
    * only when j < pp.planes, and the global plane id t·planes + j is
    * computed at runtime so the md5 plane stream stays aligned with
    * Similarity.bucketId's `planeOffset = t·planes` regardless of the
    * corpus-sized plane count. `maxPlanes` MUST equal the engine's
    * Similarity.adaptivePlanes cap (24): fewer terms would silently
    * truncate the oracle's bucket ids past 64·2^maxPlanes vectors and
    * the verify harness would report the divergence as an engine bug
    * (SimilarityRecallSpec pins the agreement). */
  private def adaptiveLshBucket(maxPlanes: Int, table: Int): String =
    (0 until maxPlanes).map { j =>
      val pid = s"CAST($table * pp.planes + $j AS VARCHAR)"
      val pc = s"(CASE WHEN ascii(substr(md5($pid || ':' || (i-1)),1,1))%2=1 THEN 1.0 ELSE -1.0 END)"
      s"(CASE WHEN $j < pp.planes AND list_reduce(list_transform(v,(x,i)->x*$pc),(a,b)->a+b) >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("\n         + ")

  private def adaptiveBandedBuckets(maxPlanes: Int, tables: Int): String =
    (0 until tables).map(t => s"${adaptiveLshBucket(maxPlanes, t)} AS b$t")
      .mkString(",\n       ")

  /** One IVF Lloyd iteration over the 64-dim double vectors. */
  private def lloydCte(prev: String, out: String): String =
    s"""asg_$out AS (
       |  SELECT vec_id, dv, cell FROM (
       |    SELECT e.vec_id, e.dv, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${dist2("e.dv", "c.centv")} ASC, c.cell) AS rn
       |    FROM ev e CROSS JOIN $prev c) WHERE rn = 1),
       |means_$out AS (
       |  SELECT cell, list(mx ORDER BY dim) AS centv FROM (
       |    SELECT a.cell, t.dim, avg(a.dv[t.dim]) AS mx
       |    FROM asg_$out a CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS dim) t
       |    GROUP BY a.cell, t.dim)
       |  GROUP BY cell),
       |$out AS (
       |  SELECT p.cell, coalesce(m.centv, p.centv) AS centv
       |  FROM $prev p LEFT JOIN means_$out m ON m.cell = p.cell)""".stripMargin

  /** One joint PQ Lloyd iteration — subspace is just a grouping column
    * (16-dim slices, codes trained per subspace in the same pass). */
  private def pqLloydCte(prev: String, out: String): String =
    s"""asg_$out AS (
       |  SELECT vec_id, subspace, sv, cell FROM (
       |    SELECT s.vec_id, s.subspace, s.sv, c.cell,
       |           row_number() OVER (PARTITION BY s.vec_id, s.subspace
       |                              ORDER BY ${dist2("s.sv", "c.centv")} ASC, c.cell) AS rn
       |    FROM sl s JOIN $prev c ON c.subspace = s.subspace) WHERE rn = 1),
       |means_$out AS (
       |  SELECT subspace, cell, list(mx ORDER BY dim) AS centv FROM (
       |    SELECT a.subspace, a.cell, t.dim, avg(a.sv[t.dim]) AS mx
       |    FROM asg_$out a CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS dim) t
       |    GROUP BY a.subspace, a.cell, t.dim)
       |  GROUP BY subspace, cell),
       |$out AS (
       |  SELECT p.subspace, p.cell, coalesce(m.centv, p.centv) AS centv
       |  FROM $prev p LEFT JOIN means_$out m ON m.subspace = p.subspace AND m.cell = p.cell)""".stripMargin

  /** Shared final stage: exact cosine (round 6) + rank ≤ k per query. */
  private def rankSelect(fromClause: String, k: Int): String =
    s"""SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, neighbor_id,
       |         round(list_cosine_similarity(qv, cv), 6) AS cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC, neighbor_id) AS rank
       |  FROM ($fromClause))
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  val similarity: Map[String, String] = Map(
    // s02's front door defaulted to Hamming-1 multiprobe in round 10
    // (single-probe recall@10 was 0.12 — not a usable default), so its
    // mirror is the s06 multiprobe SQL: each query probes its own bucket
    // plus every one-plane flip
    "s02_knn_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${lshBucket(4)} AS bucket FROM e),
         |q AS (SELECT vec_id, v,
         |             unnest([bucket, xor(bucket,1), xor(bucket,2), xor(bucket,4), xor(bucket,8)]) AS bucket
         |      FROM b WHERE vec_id < 5)
         |${rankSelect(
        """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.v AS qv, c.v AS cv
          |  FROM q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id""".stripMargin, 10)}""".stripMargin,

    "s06_knn_lsh_multiprobe" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${lshBucket(4)} AS bucket FROM e),
         |q AS (SELECT vec_id, v,
         |             unnest([bucket, xor(bucket,1), xor(bucket,2), xor(bucket,4), xor(bucket,8)]) AS bucket
         |      FROM b WHERE vec_id < 5)
         |${rankSelect(
        """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.v AS qv, c.v AS cv
          |  FROM q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id""".stripMargin, 10)}""".stripMargin,

    // IVF with stub first-16 centroids: cosine argmax assignment in the
    // FLOAT domain (float products, double accumulation), nProbe=4
    "s04_knn_ivf" ->
      s"""WITH f AS (SELECT vec_id, embedding AS fv, ${fnorm("embedding")} AS vn FROM embeddings),
         |cents AS (SELECT vec_id AS cell, fv AS cv, vn AS cn FROM f WHERE vec_id < 16),
         |asg AS (
         |  SELECT vec_id, fv, cell FROM (
         |    SELECT v.vec_id, v.fv, c.cell,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY ${fdot("v.fv", "c.cv")}/(v.vn*c.cn) DESC, c.cell) AS rn
         |    FROM f v CROSS JOIN cents c) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, fv AS qfv, cell FROM (
         |    SELECT v.vec_id, v.fv, c.cell,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY ${fdot("v.fv", "c.cv")}/(v.vn*c.cn) DESC, c.cell) AS rn
         |    FROM f v CROSS JOIN cents c WHERE v.vec_id < 5) WHERE rn <= 4)
         |${rankSelect(
        """SELECT p.query_id, a.vec_id AS neighbor_id,
          |         CAST(p.qfv AS DOUBLE[]) AS qv, CAST(a.fv AS DOUBLE[]) AS cv
          |  FROM asg a JOIN probes p ON a.cell = p.cell AND p.query_id <> a.vec_id""".stripMargin, 10)}""".stripMargin,

    // trained IVF: 2 unrolled Lloyd iterations from the first-16 seed,
    // then the same assign/probe/score chain
    "s05_knn_ivf_trained" ->
      s"""WITH ev AS (SELECT vec_id, embedding AS fv, CAST(embedding AS DOUBLE[]) AS dv
         |                  FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, dv AS centv FROM ev WHERE vec_id < 16),
         |${lloydCte("c0", "c1")},
         |${lloydCte("c1", "c2")},
         |asg AS (
         |  SELECT vec_id, fv, cell FROM (
         |    SELECT e.vec_id, e.fv, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |                              ORDER BY ${dist2("e.dv", "c.centv")} ASC, c.cell) AS rn
         |    FROM ev e CROSS JOIN c2 c) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, fv AS qfv, cell FROM (
         |    SELECT e.vec_id, e.fv, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |                              ORDER BY ${dist2("e.dv", "c.centv")} ASC, c.cell) AS rn
         |    FROM ev e CROSS JOIN c2 c WHERE e.vec_id < 5) WHERE rn <= 4)
         |${rankSelect(
        """SELECT p.query_id, a.vec_id AS neighbor_id,
          |         CAST(p.qfv AS DOUBLE[]) AS qv, CAST(a.fv AS DOUBLE[]) AS cv
          |  FROM asg a JOIN probes p ON a.cell = p.cell AND p.query_id <> a.vec_id""".stripMargin, 10)}""".stripMargin,

    // PQ-ADC: jointly trained per-subspace codebooks (2 unrolled Lloyd
    // iterations), ADC table per query, top-50 shortlist by approximate
    // distance, exact re-rank
    "s08_knn_pq" ->
      s"""WITH ev AS (SELECT vec_id, embedding AS fv FROM embeddings),
         |sl AS (
         |  SELECT vec_id, t.s AS subspace,
         |         CAST(fv[t.s*16+1 : t.s*16+16] AS DOUBLE[]) AS sv
         |  FROM ev CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) t),
         |b0 AS (SELECT subspace, CAST(vec_id AS INTEGER) AS cell, sv AS centv
         |       FROM sl WHERE vec_id < 16),
         |${pqLloydCte("b0", "b1")},
         |${pqLloydCte("b1", "b2")},
         |codes AS (
         |  SELECT vec_id, subspace, cell AS code FROM (
         |    SELECT s.vec_id, s.subspace, c.cell,
         |           row_number() OVER (PARTITION BY s.vec_id, s.subspace
         |                              ORDER BY ${dist2("s.sv", "c.centv")} ASC, c.cell) AS rn
         |    FROM sl s JOIN b2 c ON c.subspace = s.subspace) WHERE rn = 1),
         |qtable AS (
         |  SELECT s.vec_id AS query_id, s.subspace, c.cell AS code,
         |         ${dist2("s.sv", "c.centv")} AS d2
         |  FROM sl s JOIN b2 c ON c.subspace = s.subspace
         |  WHERE s.vec_id < 5),
         |approx AS (
         |  SELECT q.query_id, c.vec_id, sum(q.d2) AS adist
         |  FROM codes c JOIN qtable q ON q.subspace = c.subspace AND q.code = c.code
         |  WHERE q.query_id <> c.vec_id
         |  GROUP BY q.query_id, c.vec_id),
         |short AS (
         |  SELECT query_id, vec_id AS neighbor_id FROM (
         |    SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rn
         |    FROM approx) WHERE rn <= 50)
         |${rankSelect(
        """SELECT s.query_id, s.neighbor_id,
          |         CAST(q.fv AS DOUBLE[]) AS qv, CAST(n.fv AS DOUBLE[]) AS cv
          |  FROM short s
          |  JOIN ev n ON n.vec_id = s.neighbor_id
          |  JOIN ev q ON q.vec_id = s.query_id""".stripMargin, 10)}""".stripMargin,

    "s01_knn_brute" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(q.v, c.v), 6) AS cos,
        |         row_number() OVER (PARTITION BY q.vec_id
        |                            ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // identical expected output to s01 — the Spark side differs only in
    // HOW the top-k is computed (native heap aggregate vs rank window)
    "s07_knn_topk_agg" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(q.v, c.v), 6) AS cos,
        |         row_number() OVER (PARTITION BY q.vec_id
        |                            ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "s03_embedding_near_dups" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.label, a.vec_id AS i, b.vec_id AS j,
        |       round(list_cosine_similarity(a.v, b.v), 6) AS cos
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) > 0.4
        |ORDER BY a.label, i, j""".stripMargin,

    // the banded-LSH near-dup twin (round 10): 4 independent hash tables
    // over the s02/s06 md5 plane stream, candidate = same bucket in ANY
    // table — the OR predicate is set-equal to Spark's per-table union +
    // distinct — then exact cosine verify on the candidate sliver. Since
    // round 11 the per-table plane count is ADAPTIVE (pp CTE, mirrors
    // Similarity.adaptivePlanes): 4 at the ≤1024-vector oracle SFs
    // (bit-identical to the old fixed form), growing with the corpus so
    // bucket occupancy stays O(1).
    "s09_near_dups_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |$adaptivePlanesCte,
         |b AS (SELECT vec_id, v,
         |       ${adaptiveBandedBuckets(24, 4)}
         |       FROM e, pp)
         |SELECT a.vec_id AS i, c.vec_id AS j,
         |       round(list_cosine_similarity(a.v, c.v), 6) AS cos
         |FROM b a JOIN b c ON a.vec_id < c.vec_id
         |  AND (${bandedMatch(4)})
         |WHERE round(list_cosine_similarity(a.v, c.v), 6) > 0.4
         |ORDER BY i, j""".stripMargin,

    // SemDeDup clusters: s09's BANDED pair relation under the d06
    // recursive-CTE min-label fixpoint, endpoint-only (the CTE seeds
    // from pair endpoints, mirroring minLabelOverEndpoints); keep =
    // min-id member
    "s10_semantic_clusters" ->
      s"""WITH RECURSIVE
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |$adaptivePlanesCte,
         |b AS (SELECT vec_id, v,
         |       ${adaptiveBandedBuckets(24, 4)}
         |       FROM e, pp),
         |cands AS (
         |  SELECT a.vec_id AS i, c.vec_id AS j
         |  FROM b a JOIN b c ON a.vec_id < c.vec_id
         |    AND (${bandedMatch(4)})
         |  WHERE round(list_cosine_similarity(a.v, c.v), 6) > 0.4),
         |edges AS (SELECT i AS src, j AS dst FROM cands
         |          UNION ALL SELECT j, i FROM cands),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e2.dst, r.lab FROM reach r JOIN edges e2 ON e2.src = r.node),
         |comp AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)
         |SELECT c.node AS vec_id, c.cluster_id, n.n_vecs,
         |       (c.node = c.cluster_id) AS keep
         |FROM comp c JOIN (SELECT cluster_id, count(*) AS n_vecs
         |                  FROM comp GROUP BY cluster_id) n USING (cluster_id)
         |ORDER BY c.cluster_id, vec_id""".stripMargin
  )

  // ---- text-analysis oracles (documents table) ----

  /** Per-language hit-count subquery shared by t01/t02 — patterns must
    * stay byte-identical with TextAnalysis.LangPatterns. */
  private val langHitsSub: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|that|it|was)\b')) AS en_hits,
      |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit|ein|zu|den)\b')) AS de_hits,
      |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|pas|pour|que|une|dans)\b')) AS fr_hits,
      |  len(regexp_extract_all(lower(text), '\b(el|los|las|de|que|y|en|un|es|por)\b')) AS es_hits,
      |  len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]')) AS zh_hits
      |FROM documents""".stripMargin

  val text: Map[String, String] = Map(
    "t01_lang_id" ->
      s"""SELECT doc_id, en_hits, de_hits, fr_hits, es_hits, zh_hits,
         |  CASE WHEN zh_hits >= greatest(en_hits, de_hits, fr_hits, es_hits) AND zh_hits > 0 THEN 'zh'
         |       WHEN en_hits >= greatest(de_hits, fr_hits, es_hits) THEN 'en'
         |       WHEN de_hits >= greatest(fr_hits, es_hits) THEN 'de'
         |       WHEN es_hits >= fr_hits THEN 'es'
         |       ELSE 'fr' END AS pred_lang
         |FROM ($langHitsSub) ORDER BY doc_id""".stripMargin,

    "t10_lang_dist" ->
      s"""SELECT pred_lang, count(*) AS n_docs,
         |  CAST(sum(en_hits + de_hits + fr_hits + es_hits + zh_hits) AS BIGINT) AS total_hits
         |FROM (
         |  SELECT doc_id, en_hits, de_hits, fr_hits, es_hits, zh_hits,
         |    CASE WHEN zh_hits >= greatest(en_hits, de_hits, fr_hits, es_hits) AND zh_hits > 0 THEN 'zh'
         |         WHEN en_hits >= greatest(de_hits, fr_hits, es_hits) THEN 'en'
         |         WHEN de_hits >= greatest(fr_hits, es_hits) THEN 'de'
         |         WHEN es_hits >= fr_hits THEN 'es'
         |         ELSE 'fr' END AS pred_lang
         |  FROM ($langHitsSub))
         |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin,

    "t02_quality_score" ->
      """SELECT doc_id, n_chars_m, n_tokens, punct_cnt, stop_hits,
        |  round(CAST(n_chars_m - (n_tokens - 1) AS DOUBLE) / greatest(n_tokens, 1), 6) AS avg_word_len,
        |  round(CAST(stop_hits AS DOUBLE) / greatest(n_tokens, 1), 6) AS stop_ratio,
        |  CAST(floor((least(CAST(n_tokens AS DOUBLE), 200.0) / 200.0 * 0.4
        |      + least(CAST(stop_hits AS DOUBLE) / greatest(n_tokens, 1) * 5.0, 1.0) * 0.3
        |      + (1.0 - least(CAST(punct_cnt AS DOUBLE) / greatest(n_tokens, 1) * 10.0, 1.0)) * 0.3
        |    ) * 1e6) AS DOUBLE) / 1e6 AS quality_score
        |FROM (
        |  SELECT doc_id, length(text) AS n_chars_m,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         len(regexp_extract_all(text, '[.,!?;:]')) AS punct_cnt,
        |         len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|that|it|was)\b')) AS stop_hits
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "t03_token_counts" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+'))
        |    + len(regexp_extract_all(text, '[0-9]+'))
        |    + len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t03_corpus_totals" ->
      """SELECT count(*) AS n_docs,
        |  CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
        |  CAST(sum(re_tokens) AS BIGINT) AS total_re_tokens,
        |  round(avg(re_tokens), 6) AS avg_re_tokens
        |FROM (SELECT len(string_split(text, ' ')) AS ws_tokens,
        |             len(regexp_extract_all(text, '[a-zA-Z]+'))
        |    + len(regexp_extract_all(text, '[0-9]+'))
        |    + len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS re_tokens
        |      FROM documents)""".stripMargin,

    "t04_fingerprint_groups" ->
      """SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_id FROM (
        |  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |GROUP BY fp ORDER BY fp""".stripMargin,

    // Mirrors graft.functions.RollingHash byte-for-byte: fold
    // (h*31 + byte) mod 1e9+7 over the UTF-8 encoding — DuckDB walks the
    // hex rendering of encode(text) two chars at a time, so multibyte
    // characters hash identically to Spark's getBytes loop. NULL text
    // stays NULL (list_reduce over the prepended 0 would yield 0).
    "t05_rolling_fp" ->
      """SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL ELSE list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      [CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS BIGINT)
        |       FOR i IN range(1, octet_length(encode(text)) + 1)]),
        |    (a, b) -> (a * 31 + b) % 1000000007) END AS rh
        |FROM documents ORDER BY doc_id""".stripMargin,

    // tf and ln(N/df) multiply in the same order on both sides; the rank
    // uses the UNROUNDED score (ties only between equal (tf, df) pairs,
    // which are bit-identical across engines), term as the tiebreak.
    "t06_tfidf_top_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE length(term) > 0 GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, rank, term, tf, df, round(score, 6) AS tfidf FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC, tf.term) AS rank
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |  WHERE tf.doc_id < 50)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "t07_normalized_dups" ->
      """WITH n AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))
        |           AS norm_text
        |  FROM documents)
        |SELECT md5(norm_text) AS norm_hash, count(*) AS n_copies,
        |  min(doc_id) AS keep_id,
        |  CAST(min(length(norm_text)) AS INTEGER) AS norm_len
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,

    // every fraction below is a ratio of exact integers; identical
    // double division order on both engines
    "t08_repetition_rules" ->
      """WITH wc AS (
        |  SELECT doc_id, w, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) > 0 GROUP BY doc_id, w
        |), ws AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words, count(*) AS n_distinct,
        |         max(cnt) AS top_word_cnt,
        |         CAST(sum(length(w) * cnt) AS DOUBLE) / sum(cnt) AS mwl,
        |         CAST(sum(CASE WHEN w IN ('the', 'a') THEN cnt ELSE 0 END) AS BIGINT) AS stop_cnt
        |  FROM wc GROUP BY doc_id
        |), bg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |         count(DISTINCT b) AS n_distinct_bigrams
        |  FROM (SELECT doc_id,
        |          ws[CAST(i AS INTEGER)] || ' ' || ws[CAST(i AS INTEGER) + 1] AS b
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
        |             unnest(generate_series(1, len(ws) - 1)) t(i)
        |        WHERE len(ws) >= 2)
        |  GROUP BY doc_id)
        |SELECT ws.doc_id, n_words, n_distinct,
        |  round(mwl, 6) AS mean_word_len,
        |  round(CAST(top_word_cnt AS DOUBLE) / n_words, 6) AS top_word_frac,
        |  round(CAST(stop_cnt AS DOUBLE) / n_words, 6) AS stop_frac,
        |  round(coalesce(1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams, 0.0), 6)
        |    AS dup_bigram_frac,
        |  (n_words BETWEEN 10 AND 1000 AND mwl BETWEEN 2.0 AND 10.0
        |   AND CAST(top_word_cnt AS DOUBLE) / n_words <= 0.12
        |   AND coalesce(1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams, 0.0) <= 0.2)
        |    AS keep
        |FROM ws LEFT JOIN bg ON ws.doc_id = bg.doc_id
        |ORDER BY ws.doc_id""".stripMargin,

    // t12: duplicate-substring extents — sliding 8-token shingles at
    // every position, duplicated iff the shingle occurs at >= 2
    // (doc, pos) sites anywhere; per-doc islands merge positions whose
    // [pos, pos+7] coverage is contiguous (gap > 8 breaks); spans
    // report count / longest / covered tokens / ppm fraction. lag's
    // leading NULL compares NULL > 8 -> CASE 0 on both engines.
    "t12_dup_span_extents" ->
      """WITH sh AS (
        |  SELECT doc_id, len(w) AS total_tokens, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(w[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ') AS seg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
        |       unnest(generate_series(1, len(w) - 7)) t(i)
        |  WHERE len(w) >= 8),
        |dup AS (
        |  SELECT s.doc_id, s.total_tokens, s.pos
        |  FROM sh s JOIN (SELECT seg FROM sh GROUP BY seg HAVING count(*) > 1) k
        |    USING (seg)),
        |brk AS (
        |  SELECT doc_id, total_tokens, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |         THEN 1 ELSE 0 END AS b
        |  FROM dup),
        |runs AS (
        |  SELECT doc_id, total_tokens, pos,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
        |  FROM brk),
        |spans AS (
        |  SELECT doc_id, total_tokens, run_id,
        |         min(pos) AS s, max(pos) + 7 AS e
        |  FROM runs GROUP BY doc_id, total_tokens, run_id)
        |SELECT doc_id, CAST(total_tokens AS INTEGER) AS total_tokens,
        |  count(*) AS n_dup_spans,
        |  CAST(max(e - s + 1) AS BIGINT) AS max_span_tokens,
        |  CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
        |  CAST(sum(e - s + 1) * 1000000 // total_tokens AS BIGINT) AS dup_frac_ppm
        |FROM spans GROUP BY doc_id, total_tokens ORDER BY doc_id""".stripMargin,

    // C4-style span dedup: keep the globally first occurrence of each
    // 8-word span ((doc_id, pos) argmin as a packed-long min), scrub
    // repeats, reassemble in span order. string_agg skips the NULL
    // (scrubbed) spans exactly as collect_list does; a fully-scrubbed
    // doc hashes NULL on both sides. DuckDB list slices are 1-based
    // inclusive and clamp at the end, mirroring Spark's slice().
    "t11_span_dedup" ->
      """WITH segs AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_no,
        |         array_to_string(w[CAST(i*8+1 AS INTEGER):CAST(i*8+8 AS INTEGER)], ' ') AS seg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
        |       unnest(generate_series(0, greatest(0, (len(w) - 1) // 8))) t(i)),
        |keep AS (
        |  SELECT seg, min(doc_id * 1000000 + chunk_no) AS keep_key,
        |         count(*) AS n_occ
        |  FROM segs GROUP BY seg),
        |marked AS (
        |  SELECT s.doc_id, s.chunk_no, s.seg,
        |         (k.n_occ = 1 OR s.doc_id * 1000000 + s.chunk_no = k.keep_key) AS keep
        |  FROM segs s JOIN keep k USING (seg))
        |SELECT doc_id, count(*) AS n_segs,
        |       count(CASE WHEN keep THEN 1 END) AS n_kept,
        |       md5(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY chunk_no)) AS clean_hash
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // patterns interpolated from TextAnalysis so the two sides can never
    // drift; RE2 (DuckDB) and Java agree on these conservative classes.
    // regexp_replace needs the 'g' flag in DuckDB (Spark replaces all
    // matches by default); counts are measured per stage like the engine
    "t09_pii_scrub" -> {
      val (em, ip, ph) = (graft.operators.TextAnalysis.EmailRe,
        graft.operators.TextAnalysis.Ipv4Re, graft.operators.TextAnalysis.PhoneRe)
      s"""WITH s1 AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$em')) AS INTEGER) AS n_emails,
         |    regexp_replace(text, '$em', '<EMAIL>', 'g') AS t1
         |  FROM documents),
         |s2 AS (
         |  SELECT doc_id, n_emails,
         |    CAST(len(regexp_extract_all(t1, '$ip')) AS INTEGER) AS n_ips,
         |    regexp_replace(t1, '$ip', '<IP>', 'g') AS t2
         |  FROM s1)
         |SELECT doc_id, n_emails, n_ips,
         |  CAST(len(regexp_extract_all(t2, '$ph')) AS INTEGER) AS n_phones,
         |  md5(regexp_replace(t2, '$ph', '<PHONE>', 'g')) AS scrub_hash
         |FROM s2 ORDER BY doc_id""".stripMargin
    }
  )

  /** Multimodal oracles. m02/m04 mirror the REAL kind-routed decode
    * pipeline (Multimodal.realMedia → the five codecs): every branch
    * recomputes the decoded/resized value sequence from that format's
    * pixel/sample formula — bytes never seen — with the branch's own
    * canonical value-index definition, so a decode, plane-order,
    * channel-pairing or resample error on the engine side diverges.
    * Kind routing: doc_id%3 → image/audio/video; images rotate
    * bmp/png/jpeg by (doc_id//3)%3. */
  // m02 value orders: BMP/PNG pixel-interleaved raster (i=(y·w+x)·3+c),
  // JPEG plane-major over the DECODED (chroma-replicated) planes
  // (i=c·w·h+y·w+x; Y tiles on the 8-grid, chroma on the 16-grid —
  // the 4:2:0 layout), WAV channel-major (i=c·n+frame), AVI
  // sampled-frame-major (f=0,5,…; i=(f//5)·w·h·3+(y·w+x)·3+c).
  // SHARED with m14: the stored m00 table's content IS realMedia, so
  // the from-column decode must hash-match the same formula recompute.
  private val m02FeaturesSql: String =
      """SELECT doc_id, kind, format, count(*) AS n_values,
        |  CAST(min(v) AS INTEGER) AS v_min, CAST(max(v) AS INTEGER) AS v_max,
        |  CAST(sum(v) * 1000000 // count(*) AS BIGINT) AS v_mean_ppm,
        |  CAST(sum((i + 1) * v) AS BIGINT) AS v_wsum
        |FROM (
        |  SELECT d.doc_id, 'image' AS kind, 'bmp' AS format,
        |         (y.y*(5 + d.doc_id % 8) + x.x)*3 + c.c AS i,
        |         (d.doc_id*31 + y.y*7 + x.x*3 + c.c) % 256 AS v
        |  FROM documents d, range(12) x(x), range(7) y(y), range(3) c(c)
        |  WHERE d.doc_id % 3 = 0 AND (d.doc_id // 3) % 3 = 0
        |    AND x.x < 5 + d.doc_id % 8 AND y.y < 3 + d.doc_id % 5
        |  UNION ALL
        |  SELECT d.doc_id, 'image', 'png',
        |         (y.y*(5 + d.doc_id % 8) + x.x)*3 + c.c,
        |         (d.doc_id*37 + y.y*11 + x.x*5 + c.c) % 256
        |  FROM documents d, range(12) x(x), range(9) y(y), range(3) c(c)
        |  WHERE d.doc_id % 3 = 0 AND (d.doc_id // 3) % 3 = 1
        |    AND x.x < 5 + d.doc_id % 8 AND y.y < 5 + d.doc_id % 5
        |  UNION ALL
        |  SELECT d.doc_id, 'image', 'jpeg',
        |         c.c*(16*(1 + d.doc_id % 2))*(16*(1 + d.doc_id % 3))
        |           + y.y*(16*(1 + d.doc_id % 2)) + x.x,
        |         (d.doc_id*41
        |           + (y.y // (CASE WHEN c.c = 0 THEN 8 ELSE 16 END))*13
        |           + (x.x // (CASE WHEN c.c = 0 THEN 8 ELSE 16 END))*7 + c.c) % 256
        |  FROM documents d, range(32) x(x), range(48) y(y), range(3) c(c)
        |  WHERE d.doc_id % 3 = 0 AND (d.doc_id // 3) % 3 = 2
        |    AND x.x < 16*(1 + d.doc_id % 2) AND y.y < 16*(1 + d.doc_id % 3)
        |  UNION ALL
        |  SELECT d.doc_id, 'audio', 'wav',
        |         ch.ch*(100 + d.doc_id % 50) + j.j,
        |         ((d.doc_id*53 + j.j*17 + ch.ch*29) % 65536) - 32768
        |  FROM documents d, range(150) j(j), range(2) ch(ch)
        |  WHERE d.doc_id % 3 = 1
        |    AND j.j < 100 + d.doc_id % 50 AND ch.ch < 1 + d.doc_id % 2
        |  UNION ALL
        |  SELECT d.doc_id, 'video', 'avi',
        |         (f.f // 5)*(4 + d.doc_id % 5)*(3 + d.doc_id % 3)*3
        |           + (y.y*(4 + d.doc_id % 5) + x.x)*3 + c.c,
        |         (d.doc_id*59 + f.f*23 + y.y*11 + x.x*5 + c.c) % 256
        |  FROM documents d, range(30) f(f), range(8) x(x), range(5) y(y), range(3) c(c)
        |  WHERE d.doc_id % 3 = 2 AND f.f < d.doc_id % 30 + 1 AND f.f % 5 = 0
        |    AND x.x < 4 + d.doc_id % 5 AND y.y < 3 + d.doc_id % 3
        |) t GROUP BY doc_id, kind, format ORDER BY doc_id""".stripMargin

  // m13's canonical-content md5 recompute, shared with m15 (stored path)
  private val m13FingerprintsSql: String =
      """SELECT doc_id, kind, format,
        |  md5(prefix || string_agg(CAST(v AS VARCHAR), ',' ORDER BY i)) AS fingerprint
        |FROM (
        |  SELECT d.doc_id, 'image' AS kind, 'bmp' AS format,
        |         'rgb:' || (5 + d.doc_id % 8) || 'x' || (3 + d.doc_id % 5) || ':' AS prefix,
        |         (y.y*(5 + d.doc_id % 8) + x.x)*3 + c.c AS i,
        |         (d.doc_id*31 + y.y*7 + x.x*3 + (2 - c.c)) % 256 AS v
        |  FROM documents d, range(12) x(x), range(7) y(y), range(3) c(c)
        |  WHERE d.doc_id % 3 = 0 AND (d.doc_id // 3) % 3 = 0
        |    AND x.x < 5 + d.doc_id % 8 AND y.y < 3 + d.doc_id % 5
        |  UNION ALL
        |  SELECT d.doc_id, 'image', 'png',
        |         'rgb:' || (5 + d.doc_id % 8) || 'x' || (5 + d.doc_id % 5) || ':',
        |         (y.y*(5 + d.doc_id % 8) + x.x)*3 + c.c,
        |         (d.doc_id*37 + y.y*11 + x.x*5 + c.c) % 256
        |  FROM documents d, range(12) x(x), range(9) y(y), range(3) c(c)
        |  WHERE d.doc_id % 3 = 0 AND (d.doc_id // 3) % 3 = 1
        |    AND x.x < 5 + d.doc_id % 8 AND y.y < 5 + d.doc_id % 5
        |  UNION ALL
        |  SELECT d.doc_id, 'image', 'jpeg',
        |         'ycbcr:' || (16*(1 + d.doc_id % 2)) || 'x' || (16*(1 + d.doc_id % 3)) || ':',
        |         c.c*(16*(1 + d.doc_id % 2))*(16*(1 + d.doc_id % 3))
        |           + y.y*(16*(1 + d.doc_id % 2)) + x.x,
        |         (d.doc_id*41
        |           + (y.y // (CASE WHEN c.c = 0 THEN 8 ELSE 16 END))*13
        |           + (x.x // (CASE WHEN c.c = 0 THEN 8 ELSE 16 END))*7 + c.c) % 256
        |  FROM documents d, range(32) x(x), range(48) y(y), range(3) c(c)
        |  WHERE d.doc_id % 3 = 0 AND (d.doc_id // 3) % 3 = 2
        |    AND x.x < 16*(1 + d.doc_id % 2) AND y.y < 16*(1 + d.doc_id % 3)
        |  UNION ALL
        |  SELECT d.doc_id, 'audio', 'wav',
        |         'pcm:' || (8000 + (d.doc_id % 4) * 4000) || ':' || (1 + d.doc_id % 2) || ':',
        |         ch.ch*(100 + d.doc_id % 50) + j.j,
        |         ((d.doc_id*53 + j.j*17 + ch.ch*29) % 65536) - 32768
        |  FROM documents d, range(150) j(j), range(2) ch(ch)
        |  WHERE d.doc_id % 3 = 1
        |    AND j.j < 100 + d.doc_id % 50 AND ch.ch < 1 + d.doc_id % 2
        |  UNION ALL
        |  SELECT d.doc_id, 'video', 'avi',
        |         'vid:' || (4 + d.doc_id % 5) || 'x' || (3 + d.doc_id % 3) || ':'
        |           || (d.doc_id % 30 + 1) || ':',
        |         f.f*(4 + d.doc_id % 5)*(3 + d.doc_id % 3)*3
        |           + (y.y*(4 + d.doc_id % 5) + x.x)*3 + c.c,
        |         (d.doc_id*59 + f.f*23 + y.y*11 + x.x*5 + c.c) % 256
        |  FROM documents d, range(30) f(f), range(8) x(x), range(5) y(y), range(3) c(c)
        |  WHERE d.doc_id % 3 = 2 AND f.f < d.doc_id % 30 + 1
        |    AND x.x < 4 + d.doc_id % 5 AND y.y < 3 + d.doc_id % 3
        |) t GROUP BY doc_id, kind, format, prefix ORDER BY doc_id""".stripMargin

  val multimodal: Map[String, String] = Map(
    "m02_media_features" -> m02FeaturesSql,
    // the stored-binary twins: same formula recompute — the engine side
    // differs only in WHERE the bytes come from (parquet scan vs
    // in-body build), which is exactly what the hash equality proves
    "m14_stored_media_features" -> m02FeaturesSql,
    "m15_stored_fingerprints" -> m13FingerprintsSql,

    "m01_media_meta" ->
      """SELECT doc_id,
        |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
        |  CAST(64 + (doc_id % 16) * 8 AS INTEGER) AS width,
        |  CAST(64 + (doc_id % 9) * 8 AS INTEGER) AS height,
        |  CAST(doc_id % 30 + 1 AS INTEGER) AS n_frames,
        |  octet_length(encode(text)) AS byte_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // m04 resized orders mirror m02's per format, over the RESIZED
    // grids: images/video AREA 2×2 (truncating mean of the source box —
    // every box lies inside one JPEG tile because boxes start at even
    // coordinates and tile edges are multiples of 8/16), audio
    // pair-mean downsample (// truncates toward zero, matching Java's
    // signed /).
    "m04_resized_media" ->
      """SELECT doc_id, kind, format,
        |  CAST(src_w AS INTEGER) AS src_w, CAST(src_h AS INTEGER) AS src_h,
        |  CAST(out_w AS INTEGER) AS out_w, CAST(out_h AS INTEGER) AS out_h,
        |  count(*) AS n_out,
        |  CAST(min(v) AS INTEGER) AS o_min, CAST(max(v) AS INTEGER) AS o_max,
        |  CAST(sum(v) * 1000000 // count(*) AS BIGINT) AS o_mean_ppm,
        |  CAST(sum((j + 1) * v) AS BIGINT) AS o_wsum
        |FROM (
        |  SELECT d.doc_id, 'image' AS kind, 'bmp' AS format,
        |         5 + d.doc_id % 8 AS src_w, 3 + d.doc_id % 5 AS src_h,
        |         (5 + d.doc_id % 8) // 2 AS out_w, (3 + d.doc_id % 5) // 2 AS out_h,
        |         (y.y*((5 + d.doc_id % 8) // 2) + x.x)*3 + c.c AS j,
        |         (((d.doc_id*31 + (2*y.y)*7   + (2*x.x)*3   + c.c) % 256)
        |        + ((d.doc_id*31 + (2*y.y)*7   + (2*x.x+1)*3 + c.c) % 256)
        |        + ((d.doc_id*31 + (2*y.y+1)*7 + (2*x.x)*3   + c.c) % 256)
        |        + ((d.doc_id*31 + (2*y.y+1)*7 + (2*x.x+1)*3 + c.c) % 256)) // 4 AS v
        |  FROM documents d, range(6) x(x), range(3) y(y), range(3) c(c)
        |  WHERE d.doc_id % 3 = 0 AND (d.doc_id // 3) % 3 = 0
        |    AND x.x < (5 + d.doc_id % 8) // 2 AND y.y < (3 + d.doc_id % 5) // 2
        |  UNION ALL
        |  SELECT d.doc_id, 'image', 'png',
        |         5 + d.doc_id % 8, 5 + d.doc_id % 5,
        |         (5 + d.doc_id % 8) // 2, (5 + d.doc_id % 5) // 2,
        |         (y.y*((5 + d.doc_id % 8) // 2) + x.x)*3 + c.c,
        |         (((d.doc_id*37 + (2*y.y)*11   + (2*x.x)*5   + c.c) % 256)
        |        + ((d.doc_id*37 + (2*y.y)*11   + (2*x.x+1)*5 + c.c) % 256)
        |        + ((d.doc_id*37 + (2*y.y+1)*11 + (2*x.x)*5   + c.c) % 256)
        |        + ((d.doc_id*37 + (2*y.y+1)*11 + (2*x.x+1)*5 + c.c) % 256)) // 4
        |  FROM documents d, range(6) x(x), range(4) y(y), range(3) c(c)
        |  WHERE d.doc_id % 3 = 0 AND (d.doc_id // 3) % 3 = 1
        |    AND x.x < (5 + d.doc_id % 8) // 2 AND y.y < (5 + d.doc_id % 5) // 2
        |  UNION ALL
        |  SELECT d.doc_id, 'image', 'jpeg',
        |         16*(1 + d.doc_id % 2), 16*(1 + d.doc_id % 3),
        |         8*(1 + d.doc_id % 2), 8*(1 + d.doc_id % 3),
        |         c.c*(8*(1 + d.doc_id % 2))*(8*(1 + d.doc_id % 3))
        |           + y.y*(8*(1 + d.doc_id % 2)) + x.x,
        |         (d.doc_id*41
        |           + ((2*y.y) // (CASE WHEN c.c = 0 THEN 8 ELSE 16 END))*13
        |           + ((2*x.x) // (CASE WHEN c.c = 0 THEN 8 ELSE 16 END))*7 + c.c) % 256
        |  FROM documents d, range(16) x(x), range(24) y(y), range(3) c(c)
        |  WHERE d.doc_id % 3 = 0 AND (d.doc_id // 3) % 3 = 2
        |    AND x.x < 8*(1 + d.doc_id % 2) AND y.y < 8*(1 + d.doc_id % 3)
        |  UNION ALL
        |  SELECT d.doc_id, 'audio', 'wav',
        |         100 + d.doc_id % 50, 1 + d.doc_id % 2,
        |         (100 + d.doc_id % 50) // 2, 1 + d.doc_id % 2,
        |         ch.ch*((100 + d.doc_id % 50) // 2) + j.j,
        |         ((((d.doc_id*53 + (2*j.j)*17   + ch.ch*29) % 65536) - 32768
        |         + (((d.doc_id*53 + (2*j.j+1)*17 + ch.ch*29) % 65536) - 32768)) // 2)
        |  FROM documents d, range(75) j(j), range(2) ch(ch)
        |  WHERE d.doc_id % 3 = 1
        |    AND j.j < (100 + d.doc_id % 50) // 2 AND ch.ch < 1 + d.doc_id % 2
        |  UNION ALL
        |  SELECT d.doc_id, 'video', 'avi',
        |         4 + d.doc_id % 5, 3 + d.doc_id % 3,
        |         (4 + d.doc_id % 5) // 2, (3 + d.doc_id % 3) // 2,
        |         (f.f // 5)*((4 + d.doc_id % 5) // 2)*((3 + d.doc_id % 3) // 2)*3
        |           + (y.y*((4 + d.doc_id % 5) // 2) + x.x)*3 + c.c,
        |         (((d.doc_id*59 + f.f*23 + (2*y.y)*11   + (2*x.x)*5   + c.c) % 256)
        |        + ((d.doc_id*59 + f.f*23 + (2*y.y)*11   + (2*x.x+1)*5 + c.c) % 256)
        |        + ((d.doc_id*59 + f.f*23 + (2*y.y+1)*11 + (2*x.x)*5   + c.c) % 256)
        |        + ((d.doc_id*59 + f.f*23 + (2*y.y+1)*11 + (2*x.x+1)*5 + c.c) % 256)) // 4
        |  FROM documents d, range(30) f(f), range(4) x(x), range(2) y(y), range(3) c(c)
        |  WHERE d.doc_id % 3 = 2 AND f.f < d.doc_id % 30 + 1 AND f.f % 5 = 0
        |    AND x.x < (4 + d.doc_id % 5) // 2 AND y.y < (3 + d.doc_id % 3) // 2
        |) t GROUP BY doc_id, kind, format, src_w, src_h, out_w, out_h
        |ORDER BY doc_id""".stripMargin,

    "m03_sampled_frames" ->
      """SELECT doc_id, CAST(doc_id % 30 + 1 AS INTEGER) AS n_frames,
        |       CAST(f AS INTEGER) AS frame_idx
        |FROM documents, unnest(generate_series(0, CAST(doc_id % 30 AS BIGINT), 5)) t(f)
        |WHERE ['image','audio','video'][CAST(doc_id % 3 + 1 AS INTEGER)] = 'video'
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // m05: the engine PARSES real PNG/BMP/JPEG header bytes it attached
    // (attachEncodedMedia builds them from (doc_id, text) expressions);
    // the oracle re-derives the encoded dimensions from the same
    // arithmetic, so a byte-order or offset mistake in the parser
    // hash-mismatches here
    "m05_decoded_headers" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'jpeg' END AS fmt,
        |  CAST(64 + (doc_id % 16) * 8 AS INTEGER) AS width,
        |  CAST(64 + (doc_id % 9) * 8 AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 24 ELSE 8 END AS INTEGER) AS bit_depth,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS data_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // m06: the engine DECODES real BMP pixel arrays (stride, padding,
    // bottom-up, BGR) that attachBmpMedia expression-built; the oracle
    // never sees the bytes — it recomputes the per-channel stats from
    // the pixel-value formula (doc_id*31 + y*7 + x*3 + c) % 256 over the
    // image grid, so any byte-layout misread on the engine side (padding
    // counted as pixels, rows not reversed, channels swapped) diverges.
    // mean_ppm = floor(sum*1e6 / n): exact integer arithmetic on both
    // engines, immune to float-rounding drift.
    "m06_bmp_pixel_stats" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         CAST(5 + d.doc_id % 8 AS INTEGER) AS pw,
        |         CAST(3 + d.doc_id % 5 AS INTEGER) AS ph,
        |         y.y, x.x,
        |         (d.doc_id*31 + y.y*7 + x.x*3 + 0) % 256 AS b,
        |         (d.doc_id*31 + y.y*7 + x.x*3 + 1) % 256 AS g,
        |         (d.doc_id*31 + y.y*7 + x.x*3 + 2) % 256 AS r
        |  FROM documents d, range(7) y(y), range(12) x(x)
        |  WHERE y.y < 3 + d.doc_id % 5 AND x.x < 5 + d.doc_id % 8)
        |SELECT doc_id, pw AS width, ph AS height,
        |  count(*) AS n_px,
        |  CAST(min(b) AS INTEGER) AS b_min, CAST(max(b) AS INTEGER) AS b_max,
        |  CAST(sum(b) * 1000000 // count(*) AS BIGINT) AS b_mean_ppm,
        |  CAST(min(g) AS INTEGER) AS g_min, CAST(max(g) AS INTEGER) AS g_max,
        |  CAST(sum(g) * 1000000 // count(*) AS BIGINT) AS g_mean_ppm,
        |  CAST(min(r) AS INTEGER) AS r_min, CAST(max(r) AS INTEGER) AS r_max,
        |  CAST(sum(r) * 1000000 // count(*) AS BIGINT) AS r_mean_ppm,
        |  CAST(sum((y*pw + x + 1) * (b + 2*g + 3*r)) % 1000000007 AS BIGINT) AS wsum
        |FROM px GROUP BY doc_id, pw, ph ORDER BY doc_id""".stripMargin,

    // m07: the engine builds REAL PNGs (zlib-deflated IDAT, all five
    // scanline filters, real CRCs) and decodes them back — inflate +
    // per-filter reconstruction. The oracle never touches the bytes: it
    // recomputes the stats from the m07 pixel formula
    // (doc_id*37 + y*11 + x*5 + c) % 256, so any filter-math or stride
    // error on either side of the engine's round trip diverges. Channel
    // order is PNG's stored R,G,B (c = 0 is red), unlike m06's BMP BGR.
    "m07_png_pixel_stats" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         CAST(5 + d.doc_id % 8 AS INTEGER) AS pw,
        |         CAST(5 + d.doc_id % 5 AS INTEGER) AS ph,
        |         y.y, x.x,
        |         (d.doc_id*37 + y.y*11 + x.x*5 + 0) % 256 AS r,
        |         (d.doc_id*37 + y.y*11 + x.x*5 + 1) % 256 AS g,
        |         (d.doc_id*37 + y.y*11 + x.x*5 + 2) % 256 AS b
        |  FROM documents d, range(9) y(y), range(12) x(x)
        |  WHERE y.y < 5 + d.doc_id % 5 AND x.x < 5 + d.doc_id % 8)
        |SELECT doc_id, pw AS width, ph AS height,
        |  count(*) AS n_px,
        |  CAST(min(r) AS INTEGER) AS r_min, CAST(max(r) AS INTEGER) AS r_max,
        |  CAST(sum(r) * 1000000 // count(*) AS BIGINT) AS r_mean_ppm,
        |  CAST(min(g) AS INTEGER) AS g_min, CAST(max(g) AS INTEGER) AS g_max,
        |  CAST(sum(g) * 1000000 // count(*) AS BIGINT) AS g_mean_ppm,
        |  CAST(min(b) AS INTEGER) AS b_min, CAST(max(b) AS INTEGER) AS b_max,
        |  CAST(sum(b) * 1000000 // count(*) AS BIGINT) AS b_mean_ppm,
        |  CAST(sum((y*pw + x + 1) * (r + 2*g + 3*b)) % 1000000007 AS BIGINT) AS wsum
        |FROM px GROUP BY doc_id, pw, ph ORDER BY doc_id""".stripMargin,

    // m08: the engine ENTROPY-DECODES real baseline JPEGs it huffman-
    // encoded (constant 8x8 tiles + unit quant tables make the lossy
    // codec integer-exact — DC-only blocks survive quantization
    // unchanged). The oracle recomputes the stats from the tile formula
    // (doc_id*41 + (y//8)*13 + (x//8)*7 + c) % 256 over the pixel grid;
    // any huffman/DC-prediction/dezigzag/IDCT error on the engine side
    // diverges. Channels are coded-space Y/Cb/Cr (c = 0 is luma).
    "m08_jpeg_pixel_stats" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         CAST(8 * (1 + d.doc_id % 3) AS INTEGER) AS pw,
        |         CAST(8 * (1 + d.doc_id % 2) AS INTEGER) AS ph,
        |         y.y, x.x,
        |         (d.doc_id*41 + (y.y//8)*13 + (x.x//8)*7 + 0) % 256 AS yv,
        |         (d.doc_id*41 + (y.y//8)*13 + (x.x//8)*7 + 1) % 256 AS cb,
        |         (d.doc_id*41 + (y.y//8)*13 + (x.x//8)*7 + 2) % 256 AS cr
        |  FROM documents d, range(16) y(y), range(24) x(x)
        |  WHERE y.y < 8 * (1 + d.doc_id % 2) AND x.x < 8 * (1 + d.doc_id % 3))
        |SELECT doc_id, pw AS width, ph AS height,
        |  count(*) AS n_px,
        |  CAST(min(yv) AS INTEGER) AS y_min, CAST(max(yv) AS INTEGER) AS y_max,
        |  CAST(sum(yv) * 1000000 // count(*) AS BIGINT) AS y_mean_ppm,
        |  CAST(min(cb) AS INTEGER) AS cb_min, CAST(max(cb) AS INTEGER) AS cb_max,
        |  CAST(sum(cb) * 1000000 // count(*) AS BIGINT) AS cb_mean_ppm,
        |  CAST(min(cr) AS INTEGER) AS cr_min, CAST(max(cr) AS INTEGER) AS cr_max,
        |  CAST(sum(cr) * 1000000 // count(*) AS BIGINT) AS cr_mean_ppm,
        |  CAST(sum((y*pw + x + 1) * (yv + 2*cb + 3*cr)) % 1000000007 AS BIGINT) AS wsum
        |FROM px GROUP BY doc_id, pw, ph ORDER BY doc_id""".stripMargin,

    // m09: the engine decodes real RIFF/WAVE PCM16 files it wrote
    // (chunk walk, fmt validation, interleaved sample de-interleave,
    // sign extension); the oracle recomputes per-channel amplitude
    // stats from the sample formula ((id*53 + i*17 + ch*29) % 65536) −
    // 32768 over the frame grid. mean_ppm uses `//` = truncating
    // division, identical to Java's `/` on signed longs.
    "m09_wav_pcm_stats" ->
      """WITH s AS (
        |  SELECT d.doc_id,
        |         CAST(ch.ch AS INTEGER) AS channel,
        |         CAST(100 + d.doc_id % 50 AS BIGINT) AS n_frames,
        |         CAST(8000 + (d.doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
        |         i.i,
        |         ((d.doc_id*53 + i.i*17 + ch.ch*29) % 65536) - 32768 AS v
        |  FROM documents d, range(150) i(i), range(2) ch(ch)
        |  WHERE i.i < 100 + d.doc_id % 50 AND ch.ch < 1 + d.doc_id % 2)
        |SELECT doc_id, channel, n_frames, sample_rate,
        |  CAST(min(v) AS INTEGER) AS s_min, CAST(max(v) AS INTEGER) AS s_max,
        |  CAST(sum(v) * 1000000 // count(*) AS BIGINT) AS mean_ppm,
        |  CAST(sum((i + 1) * v) AS BIGINT) AS wsum
        |FROM s GROUP BY doc_id, channel, n_frames, sample_rate
        |ORDER BY doc_id, channel""".stripMargin,

    // m10: the engine walks REAL uncompressed AVI containers (RIFF
    // hdrl/avih + movi 00db DIB frames, bottom-up BGR with 4-byte row
    // stride) and decodes every 5th frame by offset seek; the oracle
    // recomputes the sampled frames' stats from the pixel formula
    // (id*59 + f*23 + y*11 + x*5 + c) % 256 over the frame/pixel grid.
    // Frame counts are m03's doc_id % 30 + 1, sampled 0,5,10,….
    "m10_avi_frame_stats" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         CAST(f.f AS INTEGER) AS frame_idx,
        |         CAST(4 + d.doc_id % 5 AS INTEGER) AS pw,
        |         CAST(3 + d.doc_id % 3 AS INTEGER) AS ph,
        |         y.y, x.x,
        |         (d.doc_id*59 + f.f*23 + y.y*11 + x.x*5 + 0) % 256 AS b,
        |         (d.doc_id*59 + f.f*23 + y.y*11 + x.x*5 + 1) % 256 AS g,
        |         (d.doc_id*59 + f.f*23 + y.y*11 + x.x*5 + 2) % 256 AS r
        |  FROM documents d, range(30) f(f), range(5) y(y), range(8) x(x)
        |  WHERE f.f < d.doc_id % 30 + 1 AND f.f % 5 = 0
        |    AND y.y < 3 + d.doc_id % 3 AND x.x < 4 + d.doc_id % 5)
        |SELECT doc_id, frame_idx, pw AS width, ph AS height,
        |  count(*) AS n_px,
        |  CAST(min(b) AS INTEGER) AS b_min, CAST(max(b) AS INTEGER) AS b_max,
        |  CAST(sum(b) * 1000000 // count(*) AS BIGINT) AS b_mean_ppm,
        |  CAST(min(g) AS INTEGER) AS g_min, CAST(max(g) AS INTEGER) AS g_max,
        |  CAST(sum(g) * 1000000 // count(*) AS BIGINT) AS g_mean_ppm,
        |  CAST(min(r) AS INTEGER) AS r_min, CAST(max(r) AS INTEGER) AS r_max,
        |  CAST(sum(r) * 1000000 // count(*) AS BIGINT) AS r_mean_ppm,
        |  CAST(sum((y*pw + x + 1) * (b + 2*g + 3*r)) AS BIGINT) AS wsum
        |FROM px GROUP BY doc_id, frame_idx, pw, ph
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // m11: AREA downscale over DECODED m06 BMP pixels — each output
    // pixel is the truncating mean of its 2x2 source box, odd trailing
    // rows/cols dropped. The oracle recomputes every resized pixel from
    // the m06 pixel formula (all values non-negative, so // truncation
    // == the engine's Java /), then the same stats.
    "m11_bmp_resized" ->
      """WITH rp AS (
        |  SELECT d.doc_id,
        |         CAST((5 + d.doc_id % 8) // 2 AS INTEGER) AS hw,
        |         CAST((3 + d.doc_id % 5) // 2 AS INTEGER) AS hh,
        |         y.y, x.x,
        |         (((d.doc_id*31 + (2*y.y)*7   + (2*x.x)*3   + c.c) % 256)
        |        + ((d.doc_id*31 + (2*y.y)*7   + (2*x.x+1)*3 + c.c) % 256)
        |        + ((d.doc_id*31 + (2*y.y+1)*7 + (2*x.x)*3   + c.c) % 256)
        |        + ((d.doc_id*31 + (2*y.y+1)*7 + (2*x.x+1)*3 + c.c) % 256)) // 4 AS v,
        |         c.c
        |  FROM documents d, range(3) y(y), range(6) x(x), range(3) c(c)
        |  WHERE y.y < (3 + d.doc_id % 5) // 2 AND x.x < (5 + d.doc_id % 8) // 2),
        |ch AS (
        |  SELECT doc_id, hw, hh, y, x,
        |    max(CASE WHEN c = 0 THEN v END) AS b,
        |    max(CASE WHEN c = 1 THEN v END) AS g,
        |    max(CASE WHEN c = 2 THEN v END) AS r
        |  FROM rp GROUP BY doc_id, hw, hh, y, x)
        |SELECT doc_id, hw AS width, hh AS height,
        |  count(*) AS n_px,
        |  CAST(min(b) AS INTEGER) AS b_min, CAST(max(b) AS INTEGER) AS b_max,
        |  CAST(sum(b) * 1000000 // count(*) AS BIGINT) AS b_mean_ppm,
        |  CAST(min(g) AS INTEGER) AS g_min, CAST(max(g) AS INTEGER) AS g_max,
        |  CAST(sum(g) * 1000000 // count(*) AS BIGINT) AS g_mean_ppm,
        |  CAST(min(r) AS INTEGER) AS r_min, CAST(max(r) AS INTEGER) AS r_max,
        |  CAST(sum(r) * 1000000 // count(*) AS BIGINT) AS r_mean_ppm,
        |  CAST(sum((y*hw + x + 1) * (b + 2*g + 3*r)) AS BIGINT) AS wsum
        |FROM ch GROUP BY doc_id, hw, hh ORDER BY doc_id""".stripMargin,

    // m12: the WIDENED decoder scope — engine encodes 4:2:0 JPEGs with
    // restart intervals (DRI=2, RSTn resync + DC reset every 2 MCUs) and
    // entropy-decodes them back; chroma planes come back replicated to
    // full resolution. The oracle recomputes Y from the 8-grid tile
    // formula and Cb/Cr from the 16-grid one — any subsampling-layout,
    // MCU-interleave, upsampling or resync error diverges.
    "m12_jpeg420_pixel_stats" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         CAST(16 * (1 + d.doc_id % 2) AS INTEGER) AS pw,
        |         CAST(16 * (1 + d.doc_id % 3) AS INTEGER) AS ph,
        |         y.y, x.x,
        |         (d.doc_id*41 + (y.y//8)*13  + (x.x//8)*7  + 0) % 256 AS yv,
        |         (d.doc_id*41 + (y.y//16)*13 + (x.x//16)*7 + 1) % 256 AS cb,
        |         (d.doc_id*41 + (y.y//16)*13 + (x.x//16)*7 + 2) % 256 AS cr
        |  FROM documents d, range(48) y(y), range(32) x(x)
        |  WHERE y.y < 16 * (1 + d.doc_id % 3) AND x.x < 16 * (1 + d.doc_id % 2))
        |SELECT doc_id, pw AS width, ph AS height,
        |  count(*) AS n_px,
        |  CAST(min(yv) AS INTEGER) AS y_min, CAST(max(yv) AS INTEGER) AS y_max,
        |  CAST(sum(yv) * 1000000 // count(*) AS BIGINT) AS y_mean_ppm,
        |  CAST(min(cb) AS INTEGER) AS cb_min, CAST(max(cb) AS INTEGER) AS cb_max,
        |  CAST(sum(cb) * 1000000 // count(*) AS BIGINT) AS cb_mean_ppm,
        |  CAST(min(cr) AS INTEGER) AS cr_min, CAST(max(cr) AS INTEGER) AS cr_max,
        |  CAST(sum(cr) * 1000000 // count(*) AS BIGINT) AS cr_mean_ppm,
        |  CAST(sum((y*pw + x + 1) * (yv + 2*cb + 3*cr)) % 1000000007 AS BIGINT) AS wsum
        |FROM px GROUP BY doc_id, pw, ph ORDER BY doc_id""".stripMargin,

    // m17: the widened PNG scope — engine builds ADAM7-interlaced
    // 4-bit-palette PNGs (seven independently-filtered passes, packed
    // MSB-first indices, PLTE) and decodes them back; the oracle
    // recomputes each pixel as palette[(id*43 + y*13 + x*5) % 16] with
    // palette[j] channel c = (j*19 + c*7 + 3) % 256 — bytes never seen.
    "m17_png_palette_adam7_stats" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         CAST(6 + d.doc_id % 7 AS INTEGER) AS pw,
        |         CAST(5 + d.doc_id % 6 AS INTEGER) AS ph,
        |         y.y, x.x,
        |         ((d.doc_id*43 + y.y*13 + x.x*5) % 16) AS j
        |  FROM documents d, range(10) y(y), range(12) x(x)
        |  WHERE y.y < 5 + d.doc_id % 6 AND x.x < 6 + d.doc_id % 7),
        |ch AS (
        |  SELECT doc_id, pw, ph, y, x,
        |         (j*19 + 3) % 256 AS r,
        |         (j*19 + 10) % 256 AS g,
        |         (j*19 + 17) % 256 AS b
        |  FROM px)
        |SELECT doc_id, pw AS width, ph AS height,
        |  count(*) AS n_px,
        |  CAST(min(r) AS INTEGER) AS r_min, CAST(max(r) AS INTEGER) AS r_max,
        |  CAST(sum(r) * 1000000 // count(*) AS BIGINT) AS r_mean_ppm,
        |  CAST(min(g) AS INTEGER) AS g_min, CAST(max(g) AS INTEGER) AS g_max,
        |  CAST(sum(g) * 1000000 // count(*) AS BIGINT) AS g_mean_ppm,
        |  CAST(min(b) AS INTEGER) AS b_min, CAST(max(b) AS INTEGER) AS b_max,
        |  CAST(sum(b) * 1000000 // count(*) AS BIGINT) AS b_mean_ppm,
        |  CAST(sum((y*pw + x + 1) * (r + 2*g + 3*b)) % 1000000007 AS BIGINT) AS wsum
        |FROM ch GROUP BY doc_id, pw, ph ORDER BY doc_id""".stripMargin,

    // m18: the grayscale PNG arm — engine builds Adam7-interlaced
    // color-type-0 PNGs at depth 2 (MSB-first packed samples) and
    // decodes them back RAW; the oracle recomputes every sample from
    // (id*29 + y*7 + x*3) % 4 over the grid, bytes never seen.
    "m18_png_gray_stats" ->
      """WITH s AS (
        |  SELECT d.doc_id,
        |         CAST(5 + d.doc_id % 9 AS INTEGER) AS pw,
        |         CAST(4 + d.doc_id % 7 AS INTEGER) AS ph,
        |         y.y * (5 + d.doc_id % 9) + x.x AS i,
        |         (d.doc_id*29 + y.y*7 + x.x*3) % 4 AS v
        |  FROM documents d, range(10) y(y), range(13) x(x)
        |  WHERE y.y < 4 + d.doc_id % 7 AND x.x < 5 + d.doc_id % 9)
        |SELECT doc_id, pw AS width, ph AS height,
        |  count(*) AS n_px,
        |  CAST(min(v) AS INTEGER) AS s_min, CAST(max(v) AS INTEGER) AS s_max,
        |  CAST(sum(v) * 1000000 // count(*) AS BIGINT) AS s_mean_ppm,
        |  CAST(sum((i + 1) * v) AS BIGINT) AS s_wsum
        |FROM s GROUP BY doc_id, pw, ph ORDER BY doc_id""".stripMargin,

    // m16: the PROGRESSIVE decoder scope — engine encodes nine-scan
    // SOF2 files (DC first + 4 successive-approximation refinements,
    // per-component AC EOB-run scans, DRI=2 resync throughout) and
    // decodes them back via coefficient accumulation + EOI reconstruct;
    // constant tiles keep it integer-exact, so the oracle is the same
    // 8-grid tile recompute as m08 over m16's dimension schedule
    // (w = 8·(1+id%4), h = 8·(1+id%3), 4:4:4).
    "m16_jpeg_progressive_stats" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         CAST(8 * (1 + d.doc_id % 4) AS INTEGER) AS pw,
        |         CAST(8 * (1 + d.doc_id % 3) AS INTEGER) AS ph,
        |         y.y, x.x,
        |         (d.doc_id*41 + (y.y//8)*13 + (x.x//8)*7 + 0) % 256 AS yv,
        |         (d.doc_id*41 + (y.y//8)*13 + (x.x//8)*7 + 1) % 256 AS cb,
        |         (d.doc_id*41 + (y.y//8)*13 + (x.x//8)*7 + 2) % 256 AS cr
        |  FROM documents d, range(24) y(y), range(32) x(x)
        |  WHERE y.y < 8 * (1 + d.doc_id % 3) AND x.x < 8 * (1 + d.doc_id % 4))
        |SELECT doc_id, pw AS width, ph AS height,
        |  count(*) AS n_px,
        |  CAST(min(yv) AS INTEGER) AS y_min, CAST(max(yv) AS INTEGER) AS y_max,
        |  CAST(sum(yv) * 1000000 // count(*) AS BIGINT) AS y_mean_ppm,
        |  CAST(min(cb) AS INTEGER) AS cb_min, CAST(max(cb) AS INTEGER) AS cb_max,
        |  CAST(sum(cb) * 1000000 // count(*) AS BIGINT) AS cb_mean_ppm,
        |  CAST(min(cr) AS INTEGER) AS cr_min, CAST(max(cr) AS INTEGER) AS cr_max,
        |  CAST(sum(cr) * 1000000 // count(*) AS BIGINT) AS cr_mean_ppm,
        |  CAST(sum((y*pw + x + 1) * (yv + 2*cb + 3*cr)) % 1000000007 AS BIGINT) AS wsum
        |FROM px GROUP BY doc_id, pw, ph ORDER BY doc_id""".stripMargin,

    // m13: content-addressable fingerprints — the oracle rebuilds each
    // payload's CANONICAL content string from the per-format formulas
    // (lossless images RGB-interleaved — BMP's stored BGR is re-swapped,
    // formula channel 2−c at RGB position c; JPEG plane-major coded
    // space; PCM channel-major; video ALL frames) and md5s it, so any
    // decode/channel-swap/plane-order/frame-order divergence on the
    // engine side mismatches.
    "m13_media_fingerprints" -> m13FingerprintsSql
  )

  /** Assembled in [[SparkEntry.oracleSql]]; sections appended per module. */
  def all: Map[String, String] =
    stats ++ plot ++ streaks ++ sessions ++ joins ++ sampling ++ dedup ++ similarity ++ text ++ multimodal
}
