package graft

import graft.expr.GraftExpressions._
import graft.pipeline.TfPipeline.{ClassNames, MedicTypes}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Test oracle for the per-player modules of [[graft.pipeline.TfPipeline]]:
  * the ordered-window formulations that the per-doc module pass replaced,
  * kept unchanged. Each takes the routed frame and returns the module's
  * (doc_id, sid, ...) rows. `classStats` first adds the round-active gate
  * that the routed frame used to carry (an ordered window per doc). */
object WindowModulesOracle {

  private val wDoc = Window.partitionBy("doc_id").orderBy("line_no")

  /** The routed frame's former `active` column (A13 round gate). */
  private def withActive(routedDf: DataFrame): DataFrame =
    routedDf
      .withColumn(
        "active",
        coalesce(
          last(
            when(col("event_type") === "round_start", lit(true))
              .when(col("event_type") === "round_win", lit(false)),
            ignoreNulls = true
          ).over(wDoc),
          lit(false)
        )
      )

  /** IEEE f32 division (NaN/Inf on zero divisor), ANSI-mode safe. The
    * reference's averages divide by possibly-zero f32 counts. */
  private def f32div(n: Column, d: Column): Column = {
    val nf = n.cast("float")
    val df = d.cast("float")
    when(df === 0f, when(nf === 0f, lit(Float.NaN)).otherwise(lit(Float.PositiveInfinity)))
      .otherwise(nf / df) // Spark division promotes to double...
      .cast("float") // ...so narrow back to the reference's f32
  }

  private def medicDefault = struct(
    lit(0L).as("advantages_lost"),
    lit(0f).as("biggest_advantage_lost"),
    lit(0L).as("near_full_charge_death"),
    lit(0L).as("deaths_after_uber"),
    lit(0f).as("avg_time_before_healing"),
    lit(0f).as("avg_time_to_build"),
    lit(0f).as("avg_time_to_use"),
    lit(0f).as("avg_uber_length"),
    lit(0L).as("charge_count"),
    lit(0L).as("drops")
  )

  /** Heal spread (A5): per (healer, target) healing sums, u32 wrapping. */
  def healSpread(routedDf: DataFrame): DataFrame = {
    routedDf
      .filter(col("event_type") === "healed")
      .withColumn("target_sid", against_subject_id(col("target_raw")))
      .filter(shiftrightunsigned(col("target_sid"), 32) === 1)
      .withColumn("amount", coalesce(col("healing"), lit(0L)))
      .groupBy(col("doc_id"), col("sid"), (col("target_sid").bitwiseAND(lit(0xffffffffL))).as("target_account"))
      .agg(pmod(sum(col("amount")), lit(4294967296L)).as("healing"))
      .groupBy(col("doc_id"), col("sid"))
      .agg(
        map_from_entries(
          sort_array(collect_list(struct(col("target_account"), col("healing"))))
        ).as("heals_by_account")
      )
  }

  /** Medic stats (A7-A10): windowed state machines per (doc, medic). */
  def medicStats(routedDf: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id", "sid").orderBy("line_no")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val ty = col("event_type")
    val frame = routedDf
      .filter(ty.isInCollection(MedicTypes))
      // last FirstHeal before this row (value + line), last ChargeReady line,
      // last ChargeEnded time: the sequential state, as ordered windows
      .withColumn("fh_time", last(when(ty === "first_heal", col("time")), ignoreNulls = true).over(wPrev))
      .withColumn("fh_line", last(when(ty === "first_heal", col("line_no")), ignoreNulls = true).over(wPrev))
      .withColumn("cr_line", last(when(ty === "charge_ready", col("line_no")), ignoreNulls = true).over(wPrev))
      .withColumn("uber_end", coalesce(last(when(ty === "charge_ended", col("time")), ignoreNulls = true).over(wPrev), lit(0L)))
      .withColumn(
        "build_consume",
        ty === "charge_ready" && col("fh_line").isNotNull && col("fh_time") > 0 &&
          (col("cr_line").isNull || col("fh_line") > col("cr_line"))
      )
      .withColumn("build_time", greatest(col("time") - col("fh_time"), lit(0L)))

    frame
      .groupBy(col("doc_id"), col("sid"))
      .agg(
        count(when(ty === "advantage_lost", 1)).as("advantages_lost"),
        greatest(coalesce(max(when(ty === "advantage_lost", col("f_time"))), lit(0f)), lit(0f))
          .as("biggest_advantage_lost"), // only updated when time > current (starts 0)
        count(when(ty === "medic_death" && col("charge") >= 95 && col("charge") < 100, 1)).as("near_full_charge_death"),
        count(when(ty === "medic_death" && greatest(col("time") - col("uber_end"), lit(0L)) <= 10, 1)).as("deaths_after_uber"),
        sum(when(ty === "first_heal", col("f_time")).otherwise(lit(0f))).as("total_time_before_healing"),
        count(when(ty === "first_heal", 1)).as("start_healing_count"),
        sum(when(col("build_consume"), col("build_time")).otherwise(lit(0L))).as("total_time_to_build"),
        count(when(col("build_consume"), 1)).as("uber_build_count"),
        sum(when(ty === "charge_ended", col("duration")).otherwise(lit(0f))).as("total_uber_length"),
        count(when(ty === "charge_deployed", 1)).as("charge_count"),
        count(when(ty === "medic_death" && col("charge") >= 100, 1)).as("drops")
      )
      .withColumn(
        "medic",
        when(
          col("start_healing_count") > 0,
          struct(
            col("advantages_lost"),
            col("biggest_advantage_lost"),
            col("near_full_charge_death"),
            col("deaths_after_uber"),
            f32div(col("total_time_before_healing"), col("start_healing_count")).as("avg_time_before_healing"),
            f32div(col("total_time_to_build"), col("uber_build_count")).as("avg_time_to_build"),
            f32div(lit(0f), col("charge_count")).as("avg_time_to_use"), // never accrued (reference quirk)
            f32div(col("total_uber_length"), col("charge_count")).as("avg_uber_length"),
            col("charge_count"),
            col("drops")
          )
        ).otherwise(medicDefault)
      )
      .select("doc_id", "sid", "medic")
  }

  /** Class stats (A1-A4 + J3 as-of class lookup + A13 round gate).
    *
    * Single-scan formulation: each routed row emits its state/consumer
    * contributions as an inline array that is exploded once -- ONE pass over
    * the (possibly cached or store-read) input instead of six filtered
    * re-scans, one exchange on (doc_id, key). Semantics identical to the
    * reference's per-event handler calls (classstats.rs:61-109). */
  def classStats(routedDf: DataFrame): DataFrame = {
    val ty = col("event_type")
    val base = withActive(routedDf).filter(
      ty.isin("kill", "kill_assist", "damage", "spawned", "role_change", "round_start", "round_win")
    )

    // `ord` = within-line evaluation order, mirroring the reference's
    // statement order inside one Killed event (classstats.rs:81-88):
    //   0 = the death consumer's attacker-entry lookup (`self.data.get
    //       (&subject)` runs BEFORE the target entry is created, so a
    //       self-kill by a never-seen subject finds NO attacker entry),
    //   1 = state rows (spawn/role class sets, kill target-entry creation),
    //   2 = consumers that read AFTER creation (the kill's target-class
    //       read sees the entry `data_mut` just created).
    def entry(key: Column, cls: Column, isState: Column, role: Column, other: Column, dmg: Column,
              ord: Int) =
      struct(key.as("key"), cls.as("cls"), isState.as("is_state"), role.as("role"),
        other.as("other"), dmg.as("dmg"), lit(ord).as("ord"))

    val nullS = lit(null.asInstanceOf[String])
    val nullL = lit(null.asInstanceOf[Long])

    val killTargetSid =
      when(col("target_kind") === "player", player_subject_id(col("target_raw")))
        .when(col("target_kind") === "console", lit(graft.expr.Steam.K_CONSOLE << 32))
        .when(col("target_kind") === "team", lit((graft.expr.Steam.K_TEAM << 32) | 2L))
        .otherwise(lit(graft.expr.Steam.K_SYSTEM << 32))

    // a missing `against` defaults the target to System("unknown") in the
    // reference (player.rs:19-21 default attr); its class resolves only if a
    // kill ever created a System entry
    val damageTarget = coalesce(
      against_subject_id(col("target_raw")),
      lit(graft.expr.Steam.K_SYSTEM << 32)
    )

    val contribs =
      // class change: one state entry
      when(
        ty.isin("spawned", "role_change") && col("class_str").isNotNull,
        array(entry(col("sid"), col("class_str"), lit(1), nullS, nullL, nullL, 1))
      )
        // active kill: target-entry creation (state) + kill/death consumers;
        // the death consumer ('ka', keyed by the ATTACKER) evaluates at
        // ord=0 -- before this line's own target-entry state row -- so a
        // self-kill without a prior entry counts NO death, like the
        // reference (and the streaming machine)
        .when(
          ty === "kill" && col("active"),
          array(
            entry(col("tsid"), nullS, lit(1), nullS, nullL, nullL, 1),
            entry(col("tsid"), nullS, lit(0), lit("kt"), col("sid"), nullL, 2),
            entry(col("sid"), nullS, lit(0), lit("ka"), col("tsid"), nullL, 0)
          )
        )
        .when(
          ty === "kill_assist" && col("active"),
          array(entry(against_subject_id(col("target_raw")), nullS, lit(0), lit("at"), col("sid"), nullL, 2))
        )
        .when(
          ty === "damage" && col("active") && col("dmg") > 0 && col("dmg") < 1500,
          array(entry(damageTarget, nullS, lit(0), lit("dt"), col("sid"), col("dmg"), 2))
        )
        .otherwise(array().cast(
          "array<struct<key:bigint,cls:string,is_state:int,role:string,other:bigint,dmg:bigint,ord:int>>"
        ))

    val union = base
      .withColumn("tsid", killTargetSid)
      .select(col("doc_id"), col("line_no"), explode(contribs).as("e"))
      .select(
        col("doc_id"),
        col("e.key").as("key"),
        col("line_no"),
        col("e.cls").as("cls"),
        col("e.is_state").as("is_state"),
        col("e.role").as("role"),
        col("e.other").as("other"),
        col("e.dmg").as("dmg"),
        col("e.ord").as("ord")
      )

    // ---- as-of lookups per (doc, key): within one line, rows order by
    // `ord` (death lookup < state insert < class read -- the reference's
    // statement order inside a Killed event)
    val wKey = Window
      .partitionBy("doc_id", "key")
      .orderBy(col("line_no"), col("ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val looked = union
      .withColumn("last_cls", last(col("cls"), ignoreNulls = true).over(wKey))
      .withColumn("entry_before", count(when(col("is_state") === 1, 1)).over(wKey) > 0)
      .filter(col("is_state") === 0)
      .withColumn("cls_eff", coalesce(col("last_cls"), lit("unknown")))

    // deaths require the ATTACKER to have an entry; its class may still be
    // unknown (entry created as a kill target) -- classstats.rs:81-86
    val cells = ClassNames.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        least(sum(when(col("role") === "kt" && col("cls_eff") === c, 1L).otherwise(0L)), lit(65535L)).as(s"k_$i"),
        least(sum(when(col("role") === "ka" && col("entry_before") && col("cls_eff") === c, 1L).otherwise(0L)), lit(65535L)).as(s"d_$i"),
        least(sum(when(col("role") === "at" && col("entry_before") && col("cls_eff") === c, 1L).otherwise(0L)), lit(65535L)).as(s"a_$i"),
        least(sum(when(col("role") === "dt" && col("entry_before") && col("cls_eff") === c, col("dmg")).otherwise(0L)), lit(65535L)).as(s"g_$i")
      )
    }

    looked
      .groupBy(col("doc_id"), col("other").as("sid"))
      .agg(cells.head, cells.tail: _*)
      .select(
        col("doc_id"),
        col("sid"),
        array((0 until 10).map(i => col(s"k_$i")): _*).as("kills"),
        array((0 until 10).map(i => col(s"d_$i")): _*).as("deaths"),
        array((0 until 10).map(i => col(s"a_$i")): _*).as("assists"),
        array((0 until 10).map(i => col(s"g_$i")): _*).as("damage")
      )
  }
}
