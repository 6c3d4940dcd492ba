package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** The pure-SQL surface: the reference ships its analytics as SQL
  * views (/root/reference/sql/03_views.sql) that users query with
  * plain SELECTs — this module gives a `spark.sql` user the same
  * experience. [[registerAll]] registers the star-schema tables as
  * temp views plus the four `v_*` analytics views, written in Spark
  * SQL with the SAME semantics as the DataFrame operators in
  * [[graft.operators.Views]] (GraftViewsSpec proves the two surfaces
  * produce identical rows). The graft custom functions
  * (`graft_cosine`, …) are injected by GraftExtensions, so a SQL user
  * can also call them directly.
  *
  * The views go through Catalyst exactly like the DataFrame plans —
  * same pushdown, same partial aggregation, same AQE — so nothing is
  * lost by choosing the SQL door; the DataFrame operators keep the
  * size-guarded broadcast hint as their one addition (SQL users get
  * AQE's runtime broadcast decision instead, which is the safe
  * default at any scale).
  */
object GraftViews {

  /** avg2's SQL form (see [[graft.functions.OracleSafe.avg2]]):
    * exact HALF_UP 2-decimal average via integer-cent arithmetic.
    */
  private def avg2Sql(c: String): String =
    s"""CAST(((CAST(SUM(CAST($c AS DECIMAL(18,2))) * 100 AS DECIMAL(38,0)) * 2
       |  + CAST(COUNT(*) AS DECIMAL(38,0)))
       |  div (CAST(COUNT(*) AS DECIMAL(38,0)) * 2)) AS DOUBLE) / 100.0""".stripMargin

  /** Register base tables (`region … embeddings`) as temp views for
    * `dir`, then the four analytics views. Idempotent (temp views
    * replace).
    */
  def registerAll(s: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(t => Tables.parquet(s, s"$dir/$t.parquet").createOrReplaceTempView(t))
    Tables.events(s, dir).createOrReplaceTempView("events")

    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW v_top_actors AS
      SELECT s.s_suppkey, s.s_name, COUNT(DISTINCT l.l_orderkey) AS movie_count
      FROM supplier s JOIN lineitem l ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_suppkey, s.s_name""")

    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW v_top_genres AS
      SELECT p.p_brand AS genre_name, COUNT(DISTINCT l.l_orderkey) AS movie_count
      FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand""")

    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW v_genre_ratings AS
      SELECT p.p_brand AS genre_name,
             COUNT(DISTINCT o.o_orderkey) AS movies_in_genre,
             ${avg2Sql("o.o_totalprice")} AS avg_rating,
             SUM(CAST(l.l_quantity AS BIGINT)) AS total_votes,
             ${avg2Sql("l.l_extendedprice")} AS avg_popularity
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY p.p_brand""")

    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW v_top_actors_by_rating AS
      SELECT s.s_suppkey, s.s_name,
             COUNT(DISTINCT o.o_orderkey) AS movie_count,
             ${avg2Sql("o.o_totalprice")} AS avg_movie_rating,
             SUM(CAST(l.l_quantity AS BIGINT)) AS total_votes
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY s.s_suppkey, s.s_name
      HAVING COUNT(DISTINCT o.o_orderkey) >= 3""")
  }

  /** Query a registered view with the reference's canonical ordering. */
  def query(s: SparkSession, view: String): DataFrame = view match {
    case "v_top_actors" =>
      s.sql("SELECT * FROM v_top_actors ORDER BY movie_count DESC, s_name")
    case "v_top_genres" =>
      s.sql("SELECT * FROM v_top_genres ORDER BY movie_count DESC, genre_name")
    case "v_genre_ratings" =>
      s.sql("""SELECT * FROM v_genre_ratings
               ORDER BY avg_rating DESC, movies_in_genre DESC, genre_name""")
    case "v_top_actors_by_rating" =>
      s.sql("""SELECT * FROM v_top_actors_by_rating
               ORDER BY avg_movie_rating DESC, movie_count DESC, total_votes DESC, s_suppkey""")
    case other => throw new IllegalArgumentException(s"unknown graft view: $other")
  }
}
