package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Functions.{artistTokens, dayStr}

/** Reference model for `Consolidate.consolidate`: the J1 declarative
  * rule written as a relational plan — (day, token) equi-join → overlap
  * count, one window rank per DICE (max overlap, ties → smallest SG
  * ord), one per SG (smallest DICE ord), then matched ∪ SG-rest ∪
  * DICE-rest merged with NULL-only coalesce. The engine runs the same
  * rule per day inside one cogroup; this plan is kept only to pin that
  * both return the same rows.
  */
object J1WindowModel {

  def consolidate(sg: DataFrame, dc: DataFrame, today: String,
      sgOrder: Column, dcOrder: Column): DataFrame = {
    def side(df: DataFrame, p: String, order: Column) = df
      .withColumn(s"${p}_ord", order)
      .filter(col("event_datetime_local").isNotNull)
      .select(
        col("event_id_provider").as(s"${p}_id"),
        dayStr(col("event_datetime_local")).as("day"),
        artistTokens(col("artist_name"), col("event_name")).as("toks"),
        col("event_name").as(s"${p}_name"),
        col("artist_name").as(s"${p}_artist"),
        col("venue_name").as(s"${p}_venue"),
        col("city").as(s"${p}_city"),
        col("tickets_sold_total").as(s"${p}_tickets"),
        col(s"${p}_ord"))
    val sgP = side(sg, "sg", sgOrder)
    val dcP = side(dc, "dc", dcOrder)

    val sgTok = sgP.select(col("sg_id"), col("day"), explode(col("toks")).as("tok"))
    val dcTok = dcP.select(col("dc_id"), col("day"), explode(col("toks")).as("tok"))
    val scored = dcTok.join(sgTok, Seq("day", "tok"))
      .groupBy(col("dc_id"), col("sg_id"))
      .agg(count(lit(1)).as("overlap"))
      .join(dcP.select(col("dc_id"), col("dc_ord")), Seq("dc_id"))
      .join(sgP.select(col("sg_id"), col("sg_ord")), Seq("sg_id"))

    val wDc = Window.partitionBy(col("dc_id"))
      .orderBy(col("overlap").desc, col("sg_ord").asc)
    val wSg = Window.partitionBy(col("sg_id")).orderBy(col("dc_ord").asc)
    val matchedIds = scored
      .withColumn("rk_dc", row_number().over(wDc)).filter(col("rk_dc") === 1)
      .withColumn("rk_sg", row_number().over(wSg)).filter(col("rk_sg") === 1)
      .select(col("dc_id"), col("sg_id"))

    val matched = matchedIds
      .join(sgP, Seq("sg_id"))
      .join(dcP.drop("day"), Seq("dc_id"))
      .select(
        coalesce(col("sg_name"), col("dc_name"), lit("")).as("event_name"),
        col("day").as("event_datetime_local"),
        coalesce(col("sg_artist"), col("dc_artist"), lit("")).as("artist"),
        coalesce(col("sg_venue"), col("dc_venue"), col("sg_city"), col("dc_city"), lit(""))
          .as("venue"),
        col("sg_tickets").as("shotgun_tickets_sold"),
        col("dc_tickets").as("dice_tickets_sold"),
        col("sg_id").as("shotgun_event_id"),
        col("dc_id").as("dice_event_id"))

    val sgRest = sgP.join(matchedIds.select(col("sg_id")), Seq("sg_id"), "left_anti")
      .select(
        coalesce(col("sg_name"), lit("")).as("event_name"),
        col("day").as("event_datetime_local"),
        coalesce(col("sg_artist"), lit("")).as("artist"),
        coalesce(col("sg_venue"), col("sg_city"), lit("")).as("venue"),
        col("sg_tickets").as("shotgun_tickets_sold"),
        col("sg_id").as("shotgun_event_id"))

    val dcRest = dcP.join(matchedIds.select(col("dc_id")), Seq("dc_id"), "left_anti")
      .select(
        coalesce(col("dc_name"), lit("")).as("event_name"),
        col("day").as("event_datetime_local"),
        coalesce(col("dc_artist"), lit("")).as("artist"),
        coalesce(col("dc_venue"), col("dc_city"), lit("")).as("venue"),
        col("dc_tickets").as("dice_tickets_sold"),
        col("dc_id").as("dice_event_id"))

    matched
      .unionByName(sgRest, allowMissingColumns = true)
      .unionByName(dcRest, allowMissingColumns = true)
      .filter(col("event_datetime_local") >= lit(today))
      .orderBy(col("event_datetime_local"), lower(col("event_name")))
  }
}
