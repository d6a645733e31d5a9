package graft.tools

import org.apache.spark.sql.functions._

/** Held-out generalization probe for the labeler ensemble (round 15).
  *
  * The r15 canonicalize/gate work closed every named residual of the
  * UNSEEN fixture tier (0.913 → 1.000) — but that tier's families were
  * visible while the fixes were designed, so 1.000 there BOUNDS rather
  * than demonstrates generalization. This probe evaluates the unchanged
  * production ensemble (two-stage chain → canonicalize-rematch →
  * union-gram NbFallback, trained on the clean tier exactly as
  * production does) on a THIRD fixture family per label: format
  * conventions taken from real-world data that are disjoint by
  * construction from both the clean pattern cycle (LabelerBench.cell)
  * and the tuned adversarial tier (LabelerBench.advCell). The families
  * below were authored before the first measurement and are not edited
  * to flatter the score — residuals are the deliverable.
  *
  * Usage: runMain graft.tools.LabelerHoldoutProbe
  */
object LabelerHoldoutProbe {

  import LabelerBench.{firsts, lasts, hex}


  private val units = Seq("kg", "g", "lb", "oz", "km", "mi", "ft", "ml", "%")


  private def ordSuffix(n: Long): String =
    if (n % 100 / 10 == 1) "th"
    else n % 10 match {
      case 1 => "st"; case 2 => "nd"; case 3 => "rd"; case _ => "th"
    }

  /** label → i'th HELD-OUT cell: a format a human reader would
    * unambiguously assign the label, in a convention neither fixture
    * tier exercises. */
  def holdoutCell(label: String, i: Int): String = label match {
    case "ADDRESS" =>
      if (i % 2 == 0) s"Unit ${1 + i % 30}, ${10 + i} Queen Street"
      else s"${100 + i} N Elm St Suite ${100 + i % 400}"
    case "BAN" =>
      if (i % 2 == 0)
        s"Account No ${(2000000000L + i * 104729L).toString.take(11)}"
      else s"a/c ${(3000000000L + i * 7919L).toString.take(12)}"
    case "CREDIT_CARD" =>
      if (i % 2 == 0) f"37${i % 10}2 8224${i % 10}3 1000${i % 10}" // Amex 4-6-5
      else s"54252334301099${i % 10}${(i / 10) % 10}" // MC prefix, unspaced
    case "DATE" => (i % 3) match {
      case 0 => f"202${i % 4}/${1 + i % 12}%02d/${1 + i % 28}%02d"
      case 1 => f"${1 + i % 28}%02d-Mar-20${10 + i % 15}"
      case _ => s"Friday, March ${1 + i % 28}, 202${i % 4}"
    }
    case "TIME" =>
      if (i % 2 == 0) f"${1 + i % 12}.${i % 60}%02d pm"
      else f"${i % 24}%02d${i % 60}%02d hrs" // military "2359 hrs"
    case "DATETIME" =>
      if (i % 2 == 0)
        f"Mar ${1 + i % 28}, 2023 ${1 + i % 12}:${i % 60}%02d PM"
      else f"2023-${1 + i % 12}%02d-${1 + i % 28}%02d " +
        f"${i % 24}%02d:${i % 60}%02d:00.${i % 1000}%03d"
    case "DRIVERS_LICENSE" =>
      if (i % 2 == 0) s"${('a' + i % 26).toChar}${10000000 + i}" // lowercase
      else s"${('A' + i % 26).toChar} ${1000000 + i}" // space after letter
    case "EMAIL_ADDRESS" =>
      if (i % 2 == 0) s"<first.last$i@corp${i % 10}.example.net>"
      else s"mailto:user$i@mail${i % 10}.example.org"
    case "UUID" =>
      val u = s"${hex(i * 0x9E3779B1, 8)}-${hex(i * 40503, 4)}-" +
        s"${hex(i * 531, 4)}-${hex(i * 77, 4)}-${hex(i, 6)}${hex(i * 13, 6)}"
      if (i % 2 == 0) u.toUpperCase else s"urn:uuid:$u"
    case "HASH_OR_KEY" =>
      // mixed 8-hex blocks (repeating ONE block can draw an all-digit
      // "digest" a human would read as a number — first run's fixture bug)
      val base = (1 to 16).map(k => hex((i + 3) * (2 * k + 1) * 40503, 8))
        .mkString
      if (i % 2 == 0) base.take(128) // sha512 width
      else s"sha256:${base.take(64)}" // prefixed digest
    case "IPV4" =>
      if (i % 2 == 0)
        s"[${i % 256}.${(i * 3) % 256}.${(i * 7) % 256}.${(i * 11) % 256}]"
      else f"${i % 256}%03d.${(i * 3) % 256}%03d.${(i * 7) % 256}%03d.${(i * 11) % 256}%03d"
    case "IPV6" =>
      if (i % 2 == 0) s"2001:db8::${hex(i + 1, 4)}:${hex(i * 3 + 1, 4)}"
      else s"::ffff:${i % 256}.${(i * 3) % 256}.${(i * 7) % 256}.${(i * 11) % 256}"
    case "MAC_ADDRESS" =>
      if (i % 2 == 0) // Cisco dotted triple
        f"001b.44${i % 256}%02x.${(i * 3) % 256}%02x${(i * 7) % 256}%02x"
      else f"001B44${i % 256}%02X${(i * 3) % 256}%02X${(i * 7) % 256}%02X"
    case "PERSON" =>
      if (i % 2 == 0) s"O'${lasts(i % lasts.size)}, ${firsts(i % firsts.size)}"
      else s"${firsts(i % firsts.size)} van ${lasts(i % lasts.size)}"
    case "PHONE_NUMBER" =>
      if (i % 2 == 0) f"(+1) 415 555 ${i % 1000}%04d"
      else f"${200 + i % 700}%03d-${100 + i % 900}%03d-${1000 + (i * 7) % 9000}%04d ext. ${1 + i % 99}"
    case "SSN" =>
      if (i % 2 == 0) // en-dash separators
        f"${100 + i % 900}%03d–${10 + i % 90}%02d–${1000 + (i * 3) % 9000}%04d"
      else f"${100 + i % 900}%03d${10 + i % 90}%02d${1000 + (i * 3) % 9000}%04d" // bare 9
    case "URL" =>
      if (i % 2 == 0) s"https://example${i % 10}.com/p/$i#sec${i % 5}"
      else s"ftp://files.example${i % 10}.org/pub/$i"
    case "US_STATE" =>
      Seq("Calif.", "n.y.", "Wash.", "Fla.", "Tex.", "Penn.")(i % 6)
    case "INTEGER" =>
      if (i % 2 == 0) s"+${i * 37 + 1}" else f"$i%05d"
    case "FLOAT" =>
      if (i % 2 == 0) s".${10 + i % 90}"
      else s"${1 + i % 9},${100 + (i * 37) % 900}.${10 + i % 90}"
    case "QUANTITY" =>
      if (i % 2 == 0) s"${i % 50}.${1 + i % 9} ${units(i % units.size)}"
      else s"${1 + i % 200} km/h"
    case "ORDINAL" =>
      if (i % 2 == 0) { val n = 100L + i; s"$n${ordSuffix(n)}" }
      else {
        val n = 1000L + (i * 37) % 9000
        f"${n / 1000},${n % 1000}%03d${ordSuffix(n)}"
      }
    case "UNKNOWN" => (i % 6) match {
      // entity-shaped junk that must STAY unknown
      case 0 => s"4111 11${i % 100}" // truncated card fragment
      case 1 => s"${1 + i % 9}.${i % 10}.${i % 10}.${i % 10}.${i % 10}" // 5-octet
      case 2 => s"user$i@@example..com" // malformed email
      case 3 => f"00:1b:${i % 256}%02x" // truncated MAC
      case 4 => s"ticket-${1000 + i}-${i % 10}"
      // short alnum blob with a non-hex letter (an all-digit hex draw
      // would read as INTEGER to a human — first probe run's fixture bug)
      case _ => s"zq${hex(i * 7919, 6)}"
    }
    case other => sys.error(s"no holdout generator for $other")
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(cpus = 32)
    import spark.implicits._

    val labels = LabelerBench.EvalLabels
    val PerLabel = 200
    val clean = labels.flatMap(l =>
      (0 until PerLabel).map(i => (l, LabelerBench.cell(l, i))))
      .toDF("true_label", "cell")

    val PerHoldout = 96
    val holdout = labels.flatMap(l =>
      (0 until PerHoldout).map(i => (l, holdoutCell(l, i))))
      .toDF("true_label", "cell")
      .withColumn("id", monotonically_increasing_id()).cache()

    // production protocol: train on the clean tier, label the holdout
    val model = graft.labelers.DataLabeler.NbFallback.train(
      clean.select(col("true_label").as("label"), col("cell")))
    val pred = model.label(holdout.select("id", "cell"), "cell")
    // stage-1 (two-stage chain) answer alongside, to attribute each
    // residual to the chain vs the NB vote
    val stage1 = holdout.select(col("id"),
      graft.labelers.FastLabelTwoStage(trim(col("cell"))).as("stage1"))
    val j = holdout.join(pred, Seq("id")).join(stage1, Seq("id")).cache()

    val overall = j.filter(col("true_label") === col("pred")).count().toDouble /
      j.count()
    println(f"[holdout] overall accuracy: $overall%.3f " +
      s"(${labels.size} labels x $PerHoldout cells)")

    val perLabel = j.groupBy("true_label").agg(
      avg(when(col("true_label") === col("pred"), 1.0).otherwise(0.0))
        .as("acc")).orderBy("acc").collect()
    perLabel.foreach(r =>
      println(f"[holdout]   ${r.getString(0)}%-16s ${r.getDouble(1)}%.3f"))

    println("[holdout] residual census (true -> pred [stage], count, exemplar):")
    val resid = j.filter(col("true_label") =!= col("pred"))
      .select("true_label", "pred", "cell", "stage1").collect()
    resid.groupBy { r =>
      val viaChain = r.getString(3) == r.getString(1)
      (r.getString(0), r.getString(1), if (viaChain) "chain" else "nb")
    }.toSeq.sortBy(-_._2.length)
      .foreach { case ((t, p, via), rs) =>
        println(f"[holdout]   $t%-16s -> $p%-16s [$via%-5s] x${rs.length}%-3d " +
          s"e.g. '${rs.head.getString(2)}'")
      }
    spark.stop()
  }
}
