package graft.plans

import scala.util.Random

import graft.SparkSpec
import graft.operators.SnapshotLog

/** Property harness for SQL MERGE: 20 seeded random scenarios — random
  * target/source contents, random arm combinations drawn from a small
  * condition/assignment algebra — each executed as pure SQL text and
  * compared row-for-row against an INDEPENDENT Scala reference model
  * of SQL MERGE semantics (first-match-wins, null-condition = no
  * fire, insert-unassigned = NULL). A rewrite bug that only shows on
  * an arm combination the unit spec never wrote shows up here.
  */
class SnapshotDmlPropSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.dmlprop",
      classOf[graft.sources.SnapshotCatalog].getName)
    "dmlprop"
  }

  // the condition algebra: SQL text + the model predicate over
  // (targetRow, sourceRow) — None side unused by construction
  private type Row2 = (Long, String)
  private val matchedConds: Seq[(String, (Row2, Row2) => Boolean)] = Seq(
    ("s.v LIKE 'a%'", (_, s) => s._2.startsWith("a")),
    ("t.k % 2 = 0", (t, _) => t._1 % 2 == 0),
    ("t.v < s.v", (t, s) => t._2 < s._2))
  private val sourceConds: Seq[(String, Row2 => Boolean)] = Seq(
    ("s.k % 3 = 0", s => s._1 % 3 == 0),
    ("s.v LIKE 'b%'", s => s._2.startsWith("b")))
  private val targetConds: Seq[(String, Row2 => Boolean)] = Seq(
    ("t.k > 20", t => t._1 > 20),
    ("t.v LIKE 'c%'", t => t._2.startsWith("c")))

  // the update-assignment algebra: SQL + model (target, source) => v'
  private val updates: Seq[(String, (Row2, Row2) => String)] = Seq(
    ("UPDATE SET *", (_, s) => s._2),
    ("UPDATE SET v = concat(s.v, '-', t.v)", (t, s) => s"${s._2}-${t._2}"),
    ("UPDATE SET v = 'X'", (_, _) => "X"))
  // by-source updates see only the target row
  private val bySourceUpdates: Seq[(String, Row2 => String)] = Seq(
    ("UPDATE SET v = upper(t.v)", t => t._2.toUpperCase),
    ("UPDATE SET v = 'ORPHAN'", _ => "ORPHAN"))
  private val inserts: Seq[(String, Row2 => (Long, String))] = Seq(
    ("INSERT *", s => (s._1, s._2)),
    ("INSERT (k, v) VALUES (s.k, upper(s.v))", s => (s._1, s._2.toUpperCase)))

  private def word(rnd: Random): String =
    ("" + ('a' + rnd.nextInt(4)).toChar) + rnd.nextInt(100)

  test("20 random merge scenarios match the reference model") {
    import spark.implicits._
    val rnd = new Random(712)
    (1 to 20).foreach { scenario =>
      val tgt = rnd.shuffle((1L to 40L).toList).take(25)
        .map(k => (k, word(rnd)))
      val src = rnd.shuffle((1L to 50L).toList).take(15)
        .map(k => (k, word(rnd)))
      // random arm set: 0-2 matched arms (mix of UPDATE/DELETE, the
      // LAST unconditional), 0-1 insert arms, 0-1 by-source arms
      val nMatched = rnd.nextInt(3)
      val matched = (0 until nMatched).map { i =>
        val cond =
          if (i < nMatched - 1 || rnd.nextBoolean())
            Some(matchedConds(rnd.nextInt(matchedConds.size)))
          else None
        if (rnd.nextBoolean()) {
          val u = updates(rnd.nextInt(updates.size))
          (cond, Some(u))
        } else (cond, None) // DELETE
      }
      val notMatched =
        if (rnd.nextBoolean()) Seq((
          if (rnd.nextBoolean()) Some(sourceConds(rnd.nextInt(sourceConds.size)))
          else None,
          inserts(rnd.nextInt(inserts.size))))
        else Seq.empty
      val bySource =
        if (rnd.nextBoolean()) Seq((
          if (rnd.nextBoolean()) Some(targetConds(rnd.nextInt(targetConds.size)))
          else None,
          if (rnd.nextBoolean())
            Some(bySourceUpdates(rnd.nextInt(bySourceUpdates.size)))
          else None)) // DELETE
        else Seq.empty
      if (matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty) {
        // --- engine side: pure SQL text over the catalog ---
        val root = graft.TempDirs.create(s"dmlprop_$scenario")
          .resolve("log").toString
        SnapshotLog.append(spark, root, tgt.toDF("k", "v").repartition(3))
        src.toDF("k", "v").createOrReplaceTempView("dmlprop_src")
        val sql = new StringBuilder(
          s"MERGE INTO $cat.`$root` t USING dmlprop_src s ON t.k = s.k")
        matched.foreach { case (cond, act) =>
          sql ++= " WHEN MATCHED" + cond.map(c => s" AND ${c._1}").getOrElse("")
          sql ++= " THEN " + act.map(_._1).getOrElse("DELETE")
        }
        notMatched.foreach { case (cond, ins) =>
          sql ++= " WHEN NOT MATCHED" + cond.map(c => s" AND ${c._1}").getOrElse("")
          sql ++= s" THEN ${ins._1}"
        }
        bySource.foreach { case (cond, act) =>
          sql ++= " WHEN NOT MATCHED BY SOURCE" +
            cond.map(c => s" AND ${c._1}").getOrElse("")
          sql ++= " THEN " + act.map(_._1).getOrElse("DELETE")
        }
        spark.sql(sql.toString)
        val got = SnapshotLog.read(spark, root).as[(Long, String)]
          .collect().toSeq.sorted
        // cross-door check: the catalog's V2 batch scan must read the
        // merged state identically to the library read
        val sqlGot = spark.sql(s"SELECT k, v FROM $cat.`$root`")
          .as[(Long, String)].collect().toSeq.sorted
        assert(sqlGot == got, s"scenario $scenario: catalog read diverged")
        // --- reference model: plain Scala over the same rows ---
        val srcByK = src.toMap
        val survivors = tgt.flatMap { t =>
          srcByK.get(t._1) match {
            case Some(sv) =>
              val s = (t._1, sv)
              matched.find { case (cond, _) =>
                cond.forall(_._2(t, s)) } match {
                case Some((_, Some(u))) => Some((t._1, u._2(t, s)))
                case Some((_, None)) => None // DELETE
                case None => Some(t) // no arm fired: row untouched
              }
            case None =>
              bySource.headOption match {
                case Some((cond, act)) if cond.forall(_._2(t)) =>
                  act match {
                    case Some(u) => Some((t._1, u._2(t)))
                    case None => None // DELETE
                  }
                case _ => Some(t)
              }
          }
        }
        val tgtKeys = tgt.map(_._1).toSet
        val inserted = src.filterNot(s => tgtKeys(s._1)).flatMap { s =>
          notMatched.headOption.flatMap { case (cond, ins) =>
            if (cond.forall(_._2(s))) Some(ins._2(s)) else None
          }
        }
        val want = (survivors ++ inserted).sorted
        assert(got == want,
          s"scenario $scenario diverged\nSQL: $sql\ngot:  $got\nwant: $want")
      }
    }
  }

  test("8 random DML races: disjoint keys both commit, overlaps abort") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val rnd = new Random(1117)
    (1 to 8).foreach { scenario =>
      val root = graft.TempDirs.create(s"dmlrace_$scenario")
        .resolve("log").toString
      val tgt = (1L to 40L).map(k => (k, s"v$k"))
      SnapshotLog.append(spark, root, tgt.toDF("k", "v").repartition(3))
      val keysA = rnd.shuffle((1L to 40L).toList).take(1 + rnd.nextInt(8))
      val keysB = rnd.shuffle((1L to 40L).toList).take(1 + rnd.nextInt(8))
      def parts(keys: Seq[Long], tag: String) = {
        val pos =
          SnapshotLog.readPosForDml(spark, SnapshotLog.resolve(spark, root, 1L))
        val hit = pos.filter(col("k").isin(keys: _*))
        (hit.select(col("__path").as("t_path"), col("__pos").as("t_pos")),
          hit.select(col("k"), concat(lit(tag), col("k")).as("v")))
      }
      val (deadA, addsA) = parts(keysA, "a")
      val (deadB, addsB) = parts(keysB, "b")
      SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, root, 1L), Some(deadA), addsA)
      val overlap = keysA.toSet.intersect(keysB.toSet).nonEmpty
      val bCommitted =
        try { SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, root, 1L), Some(deadB), addsB); true }
        catch { case _: IllegalStateException => false }
      assert(bCommitted == !overlap,
        s"scenario $scenario: overlap=$overlap but B committed=$bCommitted")
      val want = tgt.map { case (k, v) =>
        if (bCommitted && keysB.contains(k)) (k, s"b$k")
        else if (keysA.contains(k)) (k, s"a$k")
        else (k, v)
      }.sorted
      val got = SnapshotLog.read(spark, root)
        .as[(Long, String)].collect().toSeq.sorted
      assert(got == want, s"race scenario $scenario diverged")
    }
  }

  test("5 random schema-evolution merges match the reference model") {
    import spark.implicits._
    val rnd = new Random(913)
    (1 to 5).foreach { scenario =>
      val tgt = rnd.shuffle((1L to 30L).toList).take(18)
        .map(k => (k, word(rnd)))
      val src = rnd.shuffle((1L to 40L).toList).take(12)
        .map(k => (k, word(rnd), rnd.nextInt(1000).toLong))
      val root = graft.TempDirs.create(s"dmlevo_$scenario")
        .resolve("log").toString
      SnapshotLog.append(spark, root, tgt.toDF("k", "v").repartition(3))
      src.toDF("k", "v", "extra").createOrReplaceTempView("dmlevo_src")
      spark.sql(
        s"MERGE WITH SCHEMA EVOLUTION INTO $cat.`$root` t " +
          "USING dmlevo_src s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
      val got = SnapshotLog.read(spark, root)
        .as[(Long, String, Option[Long])].collect().toSeq.sorted
      val srcByK = src.map(s => s._1 -> s).toMap
      val want = (tgt.map { t =>
        srcByK.get(t._1) match {
          case Some((k, sv, ex)) => (k, sv, Some(ex))
          case None => (t._1, t._2, None: Option[Long])
        }
      } ++ src.filterNot(s => tgt.exists(_._1 == s._1))
        .map(s => (s._1, s._2, Some(s._3)))).sorted
      assert(got == want, s"evolution scenario $scenario diverged")
    }
  }
}
