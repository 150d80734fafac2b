package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.ext.{Decontaminate, Dedup}
import graft.ops.{Behavior, Profile}

/** Streamed face == its batch twin, one row per face: each row stages a
  * small fixture as id-ordered one-file slices
  * ([[CorpusStreams.stageIdSlices]], so every cut is a real micro-batch
  * boundary), runs the streaming face and compares it with the batch
  * operator its scaladoc names — as a multiset of rows, columns aligned
  * by name, values compared exactly.
  */
class StreamedTwinsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def stage(df: DataFrame, idCol: String, cuts: Seq[Long]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_twin_spec")
    dir.toFile.deleteOnExit()
    df.coalesce(1).write.parquet(s"$dir/src")
    CorpusStreams.stageIdSlices(spark, s"$dir/src", idCol, cuts)
  }

  private def name(face: String) = s"twin_${face}_${System.nanoTime()}"

  // time-ordered log (event_id follows ts): 4 users over ~12 days, so each
  // user's events arrive batch-ordered — the stateful twins' contract.
  // Each user cycles through the funnel stages from a different start
  // (Behavior.funnel divides by every stage's user count)
  private lazy val events = (1 to 40).map { i =>
    val types = Seq("signup", "view", "click", "purchase")
    (i.toLong, new Timestamp(1700000000000L + i * 7L * 3600000L),
      (i % 4 + 1).toLong, types((i / 4 + i) % types.size),
      (i * 37 % 11) + 0.25)
  }.toDF("event_id", "ts", "user_id", "event_type", "value")
  private lazy val stagedEvents = stage(events, "event_id", Seq(14L, 28L))

  private val vocab = ("alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra " +
    "tango uniform victor whiskey xray yankee zulu").split(" ")
  private def text(seed: Int) = (0 until 20)
    .map(j => vocab((seed * 7 + j * (seed % 5 + 1)) % vocab.length))
    .mkString(" ")
  // standing corpus 1..6; incoming 101..106 are near-copies of it (last
  // two words dropped), 107..110 are fresh text
  private lazy val standing = (1 to 6).map(i => (i.toLong, text(i)))
    .toDF("doc_id", "text")
  private lazy val incoming = ((1 to 6).map(i =>
      (100L + i, text(i).split(" ").dropRight(2).mkString(" "))) ++
    (7 to 10).map(i => (100L + i, text(50 + i))))
    .toDF("doc_id", "text")
  private lazy val stagedIncoming = stage(incoming, "doc_id", Seq(104L, 108L))

  private lazy val vecs = (0 until 20).map(i =>
      (i.toLong, Seq(1.0 + i % 3, 2.0 + (i * 5) % 7, 0.5 + (i * 3) % 4)))
    .toDF("vec_id", "embedding")
  private val evalVecs = Seq((900L, Seq(1.0, 2.0, 0.5)),
    (901L, Seq(3.0, 1.0, 2.5)), (902L, Seq(2.0, 6.0, 1.0)))

  private val faces: Seq[(String, () => (DataFrame, DataFrame))] = Seq(
    "resemblanceProbeStreaming == Dedup.jaccardProbe" -> (() => {
      val state = Dedup.resemblanceStateCheckpointed(standing, "doc_id",
        "text", threshold = 0.6, shingleK = 3)
      (CorpusStreams.resemblanceProbeStreaming(spark, stagedIncoming,
          "doc_id", "text", state, name("resemb"), shufflePartitions = Some(4)),
        Dedup.jaccardProbe(incoming, state, "doc_id", "text"))
    }),
    "noveltyScoresStreaming == Decontaminate.noveltyScores" -> (() =>
      (CorpusStreams.noveltyScoresStreaming(spark, stagedIncoming, "doc_id",
          "text", standing, "text", n = 4, shufflePartitions = Some(4)),
        Decontaminate.noveltyScores(incoming, "doc_id", "text", standing,
          "text", n = 4))),
    "semanticScreenStreaming == Decontaminate.semanticHitsLiteral" -> (() =>
      (CorpusStreams.semanticScreenStreaming(spark,
          stage(vecs, "vec_id", Seq(7L, 14L)), "vec_id", "embedding",
          evalVecs, tau = 0.95, name("sem"), shufflePartitions = Some(4)),
        Decontaminate.semanticHitsLiteral(vecs, "vec_id", "embedding",
          evalVecs, tau = 0.95))),
    "transitionsStatefulStreaming == Behavior.transitions" -> (() =>
      (EventStreams.transitionsStatefulStreaming(spark, stagedEvents,
          name("trans"), shufflePartitions = Some(4)),
        Behavior.transitions(events))),
    "funnelStatefulStreaming == Behavior.funnel" -> (() => {
      val stages = Seq("signup", "view", "click", "purchase")
      (EventStreams.funnelStatefulStreaming(spark, stagedEvents,
          name("funnel"), stages, shufflePartitions = Some(4)),
        Behavior.funnel(events, stages))
    }),
    "rollingActiveStreaming == Behavior.rollingActive" -> (() =>
      (EventStreams.rollingActiveStreaming(spark, stagedEvents, name("wau"),
          windowDays = 3, shufflePartitions = Some(4)),
        Behavior.rollingActive(events, windowDays = 3))),
    "cusumStreaming == Behavior.cusumFromDaily over dailyTotals" -> (() =>
      (EventStreams.cusumStreaming(spark, stagedEvents, name("cusum"),
          Seq("event_type"), "value", shufflePartitions = Some(4)),
        Behavior.cusumFromDaily(
          Behavior.dailyTotals(events, Seq("event_type"), "value"),
          Seq("event_type")))),
    "ewmaStreaming == Profile.ewmaHalf over dailyTotals" -> (() =>
      (EventStreams.ewmaStreaming(spark, stagedEvents, name("ewma"),
          Seq("event_type"), "value", shufflePartitions = Some(4)),
        Profile.ewmaHalf(
          Behavior.dailyTotals(events, Seq("event_type"), "value")
            .select(col("event_type"), col("d"),
              col("x").cast("double").as("x")),
          Seq("event_type"), "d", "x"))),
    "ksDriftStreaming == Profile.ksDrift" -> (() => {
      val cohort = (df: DataFrame) =>
        df.withColumn("cohort", pmod(col("user_id"), lit(2)))
      (EventStreams.ksDriftStreaming(spark, stagedEvents, name("ks"),
          Seq("cohort"), "event_type", "value", "click", "view",
          prep = cohort, shufflePartitions = Some(4)),
        Profile.ksDrift(cohort(events), Seq("cohort"), "event_type",
          "value", "click", "view"))
    }))

  private def multiset(rows: Array[Row]): Map[Seq[Any], Int] =
    rows.toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  faces.foreach { case (face, run) =>
    test(s"streamed twin: $face") {
      val (streamed, batch) = run()
      assert(streamed.columns.sorted.toSeq == batch.columns.sorted.toSeq,
        s"columns ${streamed.columns.mkString(",")} vs ${batch.columns.mkString(",")}")
      val want = batch.collect()
      assert(want.nonEmpty, "fixture must give the batch twin some rows")
      val got = streamed.select(batch.columns.map(col): _*).collect()
      assert(multiset(got) == multiset(want),
        s"streamed ${got.mkString(" ")}\n!= batch ${want.mkString(" ")}")
    }
  }
}
