package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TimeFns
import graft.operators.Writers

/** The reference's widest output — indicadores_cia.py — composed END TO
  * END as one plan: eight indicator families over the same
  * (registrado ⋈ consumo ⋈ calendar-window interval join) core
  * (indicadores_cia.py:78-172 and 7 siblings), the device and bloque
  * filter-rename-merge pivots (py:565-577, 670-714), and the final wide
  * per-user row the reference spreads across eight destination tables.
  *
  * The reference runs EIGHT separate BigQuery scans of consumo_detalle —
  * one per indicator family. Here all eight ride ONE pass of the fact:
  * the calendar windows (hábil days, inhábil days, hábil×bloque blocks)
  * union into one broadcast window dim, the overlap join runs once, and
  * each (event, window) row explodes into the families whose
  * (window-kind, date-window, content/device) predicates it satisfies —
  * the q62/q52/q56 single-scan fold. At 100 TB that is 1× the dominant
  * cost instead of 8×.
  *
  * Families (reference column names kept):
  *  - registrados (py:37-95): per-user date_created / dias_registrado /
  *    condicion — the spine of the wide row.
  *  - total (py:96-186): hábil-day overlap minutes since the epoch floor.
  *  - 30h (py:188-283): same, consumo and windows clamped to the
  *    trailing window; sum TRUNCated to 1 decimal at the END (unlike
  *    q62's per-row trunc — indicadores truncates the SUM, py:246).
  *  - live / od (py:285-477): 30h split by content_type.
  *  - devices (py:479-591): Tablet/Other→Phone remap, per-device
  *    aggregate, filter-rename-merge pivot to *_desk / *_phone.
  *  - bloques (py:593-714): hábil day × 7 day-part blocks ('21 a 06'
  *    crosses midnight), 7-way filter-rename-merge pivot.
  *  - 30ih (py:716-825): the INHÁBIL complement (weekend/feriado/
  *    interferiado days).
  *
  * Date frame: the reference anchors on "since 2022-03-28" vs "the last
  * month"; the fixture compresses that to "since 2024-01-01" vs "from
  * 2024-01-15" (consumo from the 13th — the reference's inicio_mes − 2
  * skew, py:30-31) so both frames are exercised inside the one month of
  * event data.
  *
  * Determinism: integer overlap seconds summed as longs, ONE double
  * division chain per output (sum = S/60; trunc'd sum = floor(S/6)/10;
  * prom = (S/60)/q; freq = q/dias) — no order-dependent double
  * accumulation anywhere.
  */
object IndicadoresPack extends QueryPack {

  private val FinMes = "2024-01-31 00:00:00"
  private val FinMesD = "2024-01-31"
  private val Epoch = "2024-01-01"           // the '2022-03-28' analog
  private val W30 = "2024-01-15 00:00:00"    // trailing-window start
  private val InicioConsumo = "2024-01-13 00:00:00" // W30 − 2 days (py:30-31)

  private val bloqueDefs = Seq(
    ("6 a 7", 6, 7), ("7 a 9", 7, 9), ("9 a 13", 9, 13), ("13 a 16", 13, 16),
    ("16 a 18", 16, 18), ("18 a 21", 18, 21), ("21 a 06", 21, 30)) // 21:00 → next-day 06:00

  // ---- shared relations (Spark) -------------------------------------

  /** usuarios_unicos (py:41-56): platform_id + synthesized creation
    * date; dias_registrado floors at the epoch (py:60-63), condicion
    * buckets at 30 days off the RAW creation date (py:64-69).
    */
  private def registrado(t: Tables): DataFrame = {
    val created = date_add(lit("2023-11-01").cast("date"), (col("c_custkey") * 7 % 120).cast("int"))
    t.customer.select(col("c_custkey").as("platform_id"), created.as("date_created_d"))
      .where(col("date_created_d") < lit(FinMesD).cast("date"))
      .select(col("platform_id"), col("date_created_d"),
        when(col("date_created_d") < lit(Epoch).cast("date"),
            datediff(lit(FinMesD).cast("date"), lit(Epoch).cast("date")))
          .otherwise(datediff(lit(FinMesD).cast("date"), col("date_created_d")))
          .as("dias_registrado"),
        when(datediff(lit(FinMesD).cast("date"), col("date_created_d")) < 30,
            lit("menos de 30 días creado"))
          .otherwise(lit("más de 30 días creado")).as("condicion"))
  }

  /** consumo_detalle (py:115-121): events as [s, e) playback intervals
    * with the device remap of py:516-522 (Tablet/Other → Phone) applied
    * at the scan.
    */
  private def consumo(t: Tables): DataFrame = {
    val raw = element_at(
      array(lit("Desktop"), lit("Phone"), lit("Tablet"), lit("Other")),
      (col("event_id") % 4 + 1).cast("int"))
    t.events.where(col("user_id").isNotNull).select(
        date_trunc("second", col("ts")).as("s"),
        expr("timestampadd(SECOND, CAST(floor(value*60) AS BIGINT), date_trunc('second', ts))").as("e"),
        col("user_id"), col("event_type").as("content_type"), raw.as("device_raw"))
      .where(col("s") <= lit(FinMes).cast("timestamp"))
      .select(col("s"), col("e"), col("user_id"), col("content_type"),
        when(col("device_raw").isin("Tablet", "Other"), lit("Phone"))
          .otherwise(col("device_raw")).as("device_type"))
  }

  /** dicc_fechas ⋈ dicc_feriados_interferiados (py:131-149), built from
    * the calendar alone: day 1/15 feriado, day 16 interferiado, BigQuery
    * day numbers (1=Sunday..7) from epoch days so no engine dayofweek
    * drift.
    */
  private def calendario(spark: SparkSession): DataFrame = {
    val days = TimeFns.spine(spark, s"$Epoch 00:00:00", "2024-02-01 00:00:00", "1 day")
    val dia = ((datediff(col("p_start"), lit("1970-01-01").cast("date")) + 4) % 7) + 1
    days.select(col("p_start").as("fecha"), col("p_end"), dia.as("dia"),
      dayofmonth(col("p_start")).isin(1, 15).as("feriado"),
      (dayofmonth(col("p_start")) === 16).as("interferiado"))
  }

  private def bloques(spark: SparkSession): DataFrame =
    spark.range(1).select(explode(array(bloqueDefs.map { case (n, a, b) =>
        struct(lit(n).as("bloque"), lit(a).as("h0"), lit(b).as("h1")) }: _*)).as("b"))
      .select(col("b.bloque").as("bloque"), col("b.h0").as("h0"), col("b.h1").as("h1"))

  /** All calendar windows in ONE small union (≈ 31 + 11 + 20·7 rows —
    * always broadcast): hábil days (py:143-149: not feriado, not
    * interferiado, weekday 2-6), inhábil days (py:766-779: weekend or
    * feriado or interferiado), and hábil×bloque day-parts (py:630-640).
    */
  private def ventanas(spark: SparkSession): DataFrame = {
    val cal = calendario(spark)
    val habil = cal.where(!col("feriado") && !col("interferiado") && col("dia").between(2, 6))
    val inhabil = cal.where(col("dia").isin(1, 7) || col("feriado") || col("interferiado"))
    def dayKind(k: String, df: DataFrame) = df.select(
      lit(k).as("kind"), lit(null).cast("string").as("grp_w"), col("fecha"),
      col("fecha").as("ws"), col("p_end").as("we"))
    val bl = habil.crossJoin(bloques(spark)).select(
      lit("bloque").as("kind"), col("bloque").as("grp_w"), col("fecha"),
      expr("timestampadd(HOUR, h0, fecha)").as("ws"),
      expr("timestampadd(HOUR, h1, fecha)").as("we"))
    dayKind("habil", habil).unionByName(dayKind("inhabil", inhabil)).unionByName(bl)
  }

  // ---- the eight families over ONE fact pass ------------------------

  /** Long-form family aggregates: (platform_id, ind, grp) → integer
    * overlap seconds + distinct-window count. One consumo scan, one
    * broadcast overlap join, one explode — identical output to the
    * reference's eight separate queries.
    */
  private def familias(t: Tables): DataFrame = {
    val joined = consumo(t)
      .join(registrado(t).select("platform_id"), col("user_id") === col("platform_id"))
      .join(broadcast(ventanas(t.spark)),
        TimeFns.overlaps(col("s"), col("e"), col("ws"), col("we")))
    val in30 = col("fecha") >= lit(W30).cast("timestamp") &&
      col("s") >= lit(InicioConsumo).cast("timestamp")
    val habil30 = col("kind") === "habil" && in30
    val nullS = lit(null).cast("string")
    def tag(ind: String, cond: Column, grp: Column): Column =
      when(cond, struct(lit(ind).as("ind"), grp.as("grp")))
    val tags = array(
      tag("total", col("kind") === "habil" && col("s") >= lit(s"$Epoch 00:00:00").cast("timestamp"), nullS),
      tag("30h", habil30, nullS),
      tag("live", habil30 && col("content_type") === "view", nullS),
      tag("od", habil30 && col("content_type") === "click", nullS),
      tag("device", habil30, col("device_type")),
      tag("bloque", col("kind") === "bloque" && in30, col("grp_w")),
      tag("30ih", col("kind") === "inhabil" && in30, nullS))
    // two-level aggregate instead of sum + countDistinct in one: the
    // mixed distinct/non-distinct form plans an Expand that doubles
    // every exploded pair before the shuffle; pre-aggregating per
    // window makes both levels plain partial-aggregated hash aggs and
    // the second level's input is already window-deduplicated
    joined
      .select(col("platform_id"), col("s"), col("e"), col("ws"), col("we"),
        explode(filter(tags, _.isNotNull)).as("b"))
      .groupBy(col("platform_id"), col("b.ind").as("ind"), col("b.grp").as("grp"), col("ws"))
      .agg(sum(TimeFns.overlapSeconds(col("s"), col("e"), col("ws"), col("we"))).as("wsecs"))
      .groupBy("platform_id", "ind", "grp")
      .agg(sum(col("wsecs")).as("secs"), count(lit(1)).as("q"))
  }

  /** One wide-row slot per output family: where its long-form rows live
    * and whether the reference TRUNCates its sum to 1 decimal.
    */
  private case class Slot(ind: String, grp: Option[String], out: String, trunc: Boolean)
  private val slots: Seq[Slot] =
    Seq(Slot("total", None, "total", trunc = false),
        Slot("30h", None, "30h", trunc = true),
        Slot("live", None, "live", trunc = true),
        Slot("od", None, "od", trunc = true),
        Slot("device", Some("Desktop"), "desk", trunc = false),
        Slot("device", Some("Phone"), "phone", trunc = false)) ++
    bloqueDefs.map { case (n, _, _) =>
      Slot("bloque", Some(n), n.replace(" a ", "a"), trunc = false) } :+
    Slot("30ih", None, "30ih", trunc = true)

  /** The wide per-user row: pivot the long form (the device/bloque
    * filter-rename-merge of py:565-577, 670-714 — here one conditional
    * aggregation for all 14 slots), join the registrado spine, and
    * derive sum/prom/freq exactly once per slot. Users appear iff they
    * have at least one family row (the reference's inner registrado ⋈
    * consumo join); a missing family leaves its four columns NULL (the
    * reference's left merges).
    */
  def wide(t: Tables): DataFrame = {
    val pivoted = familias(t).groupBy("platform_id").agg(
      slotAggs.head, slotAggs.tail: _*)
    val famCols = slots.flatMap { sl =>
      val secs = col(s"secs_${sl.out}"); val q = col(s"q_${sl.out}")
      val sumc =
        if (sl.trunc) (floor(secs / 6) / lit(10.0)).as(s"sum_${sl.out}")
        else (secs.cast("double") / 60).as(s"sum_${sl.out}")
      Seq(sumc, q.as(s"q_${sl.out}"),
        (secs.cast("double") / 60 / q).as(s"prom_${sl.out}"),
        when(col("dias_registrado") > 0, q.cast("double") / col("dias_registrado"))
          .otherwise(lit(0.0)).as(s"freq_${sl.out}"))
    }
    pivoted.join(registrado(t), Seq("platform_id"))
      .select(Seq(lit(FinMes).cast("timestamp").as("fecha"), col("platform_id"),
        col("date_created_d").cast("string").as("date_created"),
        col("dias_registrado"), col("condicion")) ++ famCols: _*)
      .orderBy("platform_id")
  }

  private def slotAggs: Seq[Column] = slots.flatMap { sl =>
    val cond = col("ind") === sl.ind &&
      sl.grp.map(g => col("grp") === g).getOrElse(col("grp").isNull)
    Seq(max(when(cond, col("secs"))).as(s"secs_${sl.out}"),
        max(when(cond, col("q"))).as(s"q_${sl.out}"))
  }

  /** The reference's publication (py:42-47 ×8): DELETE WHERE fecha =
    * fin_mes, then load — exactly a K2 replace of the month's fecha
    * partition, one snapshot commit; prior months are never opened.
    * Monthly rerun is idempotent.
    */
  def publish(t: Tables, path: String): Unit =
    Writers.replaceWindow(wide(t), path, "fecha")

  // ---- DuckDB oracle -------------------------------------------------
  // Written as the reference writes it — one aggregate per family,
  // UNION ALL'd long, then pivoted — over the same synthesized inputs.

  private def diaSql(f: String) =
    s"((date_diff('day', DATE '1970-01-01', CAST($f AS DATE)) + 4) % 7) + 1"

  private val RelationsSql =
    s"""registrado AS (
       |  SELECT c_custkey AS platform_id,
       |    -- date + interval is a TIMESTAMP in DuckDB; pin it back to DATE
       |    CAST(DATE '2023-11-01' + INTERVAL ((c_custkey * 7) % 120) DAY AS DATE) AS date_created_d
       |  FROM customer
       |  WHERE DATE '2023-11-01' + INTERVAL ((c_custkey * 7) % 120) DAY < DATE '$FinMesD'),
       |reg AS (
       |  SELECT platform_id, CAST(date_created_d AS VARCHAR) AS date_created,
       |    CASE WHEN date_created_d < DATE '$Epoch'
       |         THEN date_diff('day', DATE '$Epoch', DATE '$FinMesD')
       |         ELSE date_diff('day', date_created_d, DATE '$FinMesD') END AS dias_registrado,
       |    CASE WHEN date_diff('day', date_created_d, DATE '$FinMesD') < 30
       |         THEN 'menos de 30 días creado' ELSE 'más de 30 días creado' END AS condicion
       |  FROM registrado),
       |consumo AS (
       |  SELECT date_trunc('second', ts) AS s,
       |    date_trunc('second', ts) + INTERVAL (CAST(floor(value*60) AS BIGINT)) SECOND AS e,
       |    user_id, event_type AS content_type,
       |    CASE WHEN ['Desktop','Phone','Tablet','Other'][CAST(event_id % 4 + 1 AS INT)] IN ('Tablet','Other')
       |         THEN 'Phone'
       |         ELSE ['Desktop','Phone','Tablet','Other'][CAST(event_id % 4 + 1 AS INT)] END AS device_type
       |  FROM events
       |  WHERE user_id IS NOT NULL AND date_trunc('second', ts) <= TIMESTAMP '$FinMes'),
       |dias AS (
       |  SELECT CAST(g AS TIMESTAMP) AS fecha, ${diaSql("g")} AS dia,
       |    day(g) IN (1,15) AS feriado, day(g) = 16 AS interferiado
       |  FROM (SELECT unnest(generate_series(TIMESTAMP '$Epoch 00:00:00',
       |          TIMESTAMP '$FinMesD 00:00:00', INTERVAL 1 DAY)) AS g)),
       |habil AS (SELECT fecha FROM dias WHERE NOT feriado AND NOT interferiado AND dia BETWEEN 2 AND 6),
       |inhabil AS (SELECT fecha FROM dias WHERE dia IN (1,7) OR feriado OR interferiado),
       |bloques AS (SELECT * FROM (VALUES ${bloqueDefs.map { case (n, a, b) => s"('$n',$a,$b)" }.mkString(",")})
       |            AS b(bloque, h0, h1)),
       |ventanas AS (
       |  SELECT 'habil' AS kind, CAST(NULL AS VARCHAR) AS grp_w, fecha, fecha AS ws,
       |         fecha + INTERVAL 1 DAY AS we FROM habil
       |  UNION ALL
       |  SELECT 'inhabil', CAST(NULL AS VARCHAR), fecha, fecha, fecha + INTERVAL 1 DAY FROM inhabil
       |  UNION ALL
       |  SELECT 'bloque', bloque, fecha, fecha + INTERVAL (h0) HOUR, fecha + INTERVAL (h1) HOUR
       |  FROM habil CROSS JOIN bloques),
       |pairs AS (
       |  SELECT r.platform_id, c.s, c.content_type, c.device_type,
       |    w.kind, w.grp_w, w.fecha, w.ws,
       |    date_diff('second', greatest(c.s, w.ws), least(c.e, w.we)) AS secs
       |  FROM consumo c
       |  JOIN registrado r ON c.user_id = r.platform_id
       |  JOIN ventanas w ON c.s < w.we AND c.e >= w.ws)""".stripMargin

  private def famSql(ind: String, grpExpr: String, where: String): String =
    s"""SELECT '$ind' AS ind, $grpExpr AS grp, platform_id,
       |  CAST(SUM(secs) AS BIGINT) AS secs, COUNT(DISTINCT ws) AS q
       |FROM pairs WHERE $where GROUP BY 1, 2, 3""".stripMargin

  private val In30Sql =
    s"fecha >= TIMESTAMP '$W30' AND s >= TIMESTAMP '$InicioConsumo'"

  private val FamSql = Seq(
    famSql("total", "CAST(NULL AS VARCHAR)", s"kind = 'habil' AND s >= TIMESTAMP '$Epoch 00:00:00'"),
    famSql("30h", "CAST(NULL AS VARCHAR)", s"kind = 'habil' AND $In30Sql"),
    famSql("live", "CAST(NULL AS VARCHAR)", s"kind = 'habil' AND $In30Sql AND content_type = 'view'"),
    famSql("od", "CAST(NULL AS VARCHAR)", s"kind = 'habil' AND $In30Sql AND content_type = 'click'"),
    famSql("device", "device_type", s"kind = 'habil' AND $In30Sql"),
    famSql("bloque", "grp_w", s"kind = 'bloque' AND $In30Sql"),
    famSql("30ih", "CAST(NULL AS VARCHAR)", s"kind = 'inhabil' AND $In30Sql"))
    .mkString("\nUNION ALL\n")

  private val PivotSql = slots.flatMap { sl =>
    val cond = s"ind = '${sl.ind}'" +
      sl.grp.map(g => s" AND grp = '$g'").getOrElse(" AND grp IS NULL")
    Seq(s"max(CASE WHEN $cond THEN secs END) AS secs_${sl.out}",
        s"max(CASE WHEN $cond THEN q END) AS q_${sl.out}")
  }.mkString(",\n    ")

  private val OutSql = slots.flatMap { sl =>
    val s = s"secs_${sl.out}"; val q = s"q_${sl.out}"
    val sum =
      if (sl.trunc) s"CAST($s // 6 AS DOUBLE) / 10 AS sum_${sl.out}"
      else s"CAST($s AS DOUBLE) / 60 AS sum_${sl.out}"
    Seq(sum, s"$q AS q_${sl.out}",
      s"CAST($s AS DOUBLE) / 60 / $q AS prom_${sl.out}",
      s"CASE WHEN reg.dias_registrado > 0 THEN CAST($q AS DOUBLE) / reg.dias_registrado ELSE 0.0 END AS freq_${sl.out}")
  }.mkString(",\n  ")

  val q66 = QueryDef(
    "q66_indicadores_cia",
    Some(s"""WITH $RelationsSql,
            |fam AS (
            |$FamSql
            |),
            |wide AS (
            |  SELECT platform_id,
            |    $PivotSql
            |  FROM fam GROUP BY platform_id
            |)
            |SELECT TIMESTAMP '$FinMes' AS fecha, wide.platform_id, reg.date_created,
            |  reg.dias_registrado, reg.condicion,
            |  $OutSql
            |FROM wide JOIN reg ON wide.platform_id = reg.platform_id
            |ORDER BY wide.platform_id""".stripMargin)) { t =>
    wide(t)
  }

  override def queries: Seq[QueryDef] = Seq(q66)
}
