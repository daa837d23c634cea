package graft.queries

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** A seeded reconstruction of the reference's behavioral-analytics pair
  * (`users_table` / `events_table`, FIXTURES.md §2) for the
  * `ref_verbatim_*` oracle queries, so they read nothing outside the
  * repository.
  *
  * The schema is the reference's; the rows are not its shipped bytes.
  * [[render]] draws them from `java.util.Random`, whose sequence its
  * specification fixes, so one seed gives the same text on every JVM:
  * [[Rows]] rows per table, `user_id` in 1–6, `time` in the four days
  * from 2017-11-22 at microsecond precision, `value_1`/`value_2`/
  * `value_3` in 0–5 (never NULL: a NULL `max(value_3)` would empty
  * every `>= ALL`), `event_type` in 0–6, and `value_4` NULL as in the
  * reference's own data.
  *
  * Each table is one typed `SELECT CAST(..) .. FROM (VALUES ..)` text.
  * Spark registers its temp views from that text and the DuckDB oracle
  * embeds it, so both engines read the same rows.
  */
object BehavioralFixture {

  final case class Pair(users: String, events: String)

  /** Checked (BehavioralFixtureSpec) to give a unique top total for
    * `ref_verbatim_orderby_limit`, 10 rows for
    * `ref_verbatim_window_distinct_on` and non-empty groups for
    * `ref_verbatim_quantified_all`. */
  val Seed = 20171122L
  val Rows = 100

  private val start = LocalDateTime.of(2017, 11, 22, 0, 0)
  private val stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** The pair drawn from `seed`: users first, then events, from one
    * generator. */
  private[graft] def render(seed: Long): Pair = {
    val r = new java.util.Random(seed)
    def table(third: String, thirdValues: Int): String = {
      val rows = Seq.fill(Rows) {
        val user = 1 + r.nextInt(6)
        val time = start.plusSeconds(r.nextInt(4 * 86400).toLong)
          .plusNanos(r.nextInt(1000000) * 1000L)
        val v = r.nextInt(thirdValues)
        val v2 = r.nextInt(6)
        val v3 = r.nextInt(6)
        s"($user, '${stamp.format(time)}', $v, $v2, $v3.0, NULL)"
      }
      s"""SELECT CAST(user_id AS INT) AS user_id,
         |  CAST(time AS TIMESTAMP) AS time,
         |  CAST($third AS INT) AS $third,
         |  CAST(value_2 AS INT) AS value_2,
         |  CAST(value_3 AS DOUBLE) AS value_3,
         |  CAST(value_4 AS BIGINT) AS value_4
         |FROM (VALUES
         |  ${rows.mkString(",\n  ")})
         |  AS t(user_id, time, $third, value_2, value_3, value_4)""".stripMargin
    }
    Pair(table("value_1", 6), table("event_type", 7))
  }

  lazy val sql: Pair = render(Seed)
}
