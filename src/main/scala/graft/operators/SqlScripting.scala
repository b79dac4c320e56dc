package graft.operators

import org.apache.spark.sql.functions.col

import graft.Tables
import graft.registry.GQuery

/** SQL scripting (Spark 4: BEGIN…END blocks, DECLAREd session
  * variables, WHILE control flow — SQL-standard stored-procedure-style
  * scripting executed by the engine itself): the two-phase
  * "compute a data-driven parameter, then use it" job that otherwise
  * needs a driver program, expressed entirely in SQL.
  *
  * The script is the classic iterative outlier trim a data engineer
  * scripts against a warehouse: start from the corpus mean, and three
  * times re-compute the mean over only the rows under 2× the previous
  * mean — each round's threshold is a DECLAREd variable the next
  * round's WHERE clause reads. Every mean uses the exactSum idiom
  * (snap to the 1e-4 grid → DECIMAL(18,4) accumulate → divide) and the
  * resulting variable is snapped back to the grid BEFORE it enters the
  * next predicate, so the loop's state is partition-order-free and the
  * DuckDB oracle can replay it as three unrolled single-row CTEs (the
  * q126/q127 unrolled-rounds pattern, applied to a VARIABLE instead of
  * a centroid table).
  *
  * Scale shape: each round is one full-scan aggregate with a scalar
  * predicate — N rounds = N scans, no shuffle beyond the partial-agg
  * tree, and the scripting layer adds driver-side control flow only.
  * At 100 TB this is exactly how the job should run; the alternative
  * (collecting the column to recompute thresholds driver-side) is the
  * anti-pattern this surface exists to avoid.
  */
object SqlScripting {

  private val ExactMean =
    "floor((CAST(sum(CAST(floor(l_extendedprice*1e4+0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)/count(*))*1e4+0.5)/1e4"

  val q259 = GQuery(
    "q259_sql_script",
    (s, dir) => {
      Tables.lineitem(s, dir).select(col("l_extendedprice"))
        .createOrReplaceTempView("lineitem_q259")
      s.sql(s"""
        BEGIN
          DECLARE mu DOUBLE;
          DECLARE i INT DEFAULT 0;
          SET mu = (SELECT $ExactMean FROM lineitem_q259);
          WHILE i < 3 DO
            SET mu = (SELECT $ExactMean FROM lineitem_q259
                      WHERE l_extendedprice <= 2*mu);
            SET i = i + 1;
          END WHILE;
          SELECT i AS rounds, mu AS mu_final,
            (SELECT count(*) FROM lineitem_q259
             WHERE l_extendedprice <= 2*mu) AS n_kept;
        END""")
    },
    Some(s"""WITH m0 AS (SELECT $ExactMean AS mu FROM lineitem),
      m1 AS (SELECT $ExactMean AS mu FROM lineitem, m0
             WHERE l_extendedprice <= 2*m0.mu),
      m2 AS (SELECT $ExactMean AS mu FROM lineitem, m1
             WHERE l_extendedprice <= 2*m1.mu),
      m3 AS (SELECT $ExactMean AS mu FROM lineitem, m2
             WHERE l_extendedprice <= 2*m2.mu)
      SELECT 3 AS rounds, m3.mu AS mu_final,
        (SELECT count(*) FROM lineitem, m3 WHERE l_extendedprice <= 2*m3.mu) AS n_kept
      FROM m3"""))

  def all: Seq[GQuery] = Seq(q259)
}
