package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.{CandidateConcept, Network}

/** ScalaCheck property suite (SURVEY §5.2.3): algebraic laws the engine
  * must hold for *arbitrary* inputs, not just fixtures. The
  * scalatest↔scalacheck bridge isn't in the offline dependency cache, so
  * properties sample `Gen` directly with fixed seeds (deterministic runs). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic forAll: N seeded samples per property. */
  private def forAll[A](gen: Gen[A], n: Int = 15)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }
  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private val net = new Network(Seq("origin" -> CandidateConcept()))

  private val genderGen: Gen[String] =
    Gen.oneOf("m", "M", "male", "Male", "f", "F", "female", "Female", "x", "", "zzz")
  private val rowGen: Gen[(Int, String)] =
    Gen.zip(Gen.chooseNum(0, 1000000), genderGen)

  test("encode is total and NA-closed for arbitrary csv inputs") {
    forAll(Gen.listOfN(20, rowGen)) { rows =>
      whenever(rows.nonEmpty) {
        val raw = rows.map { case (id, g) => s"$id,$g" }.toDF("value")
        val out = net.preprocess(raw).collect()
        assert(out.length == rows.length)
        // ids roundtrip exactly; gender is always one of {0,1,NA}
        assert(out.map(_.getFloat(0)).toSeq == rows.map(_._1.toFloat))
        assert(out.forall(r => Set(0f, 1f, -1f).contains(r.getFloat(1))))
      }
    }
  }

  test("prefix-union then prefix-select is identity (A11 ∘ A12 = id)") {
    forAll(Gen.listOfN(10, rowGen)) { rows =>
      whenever(rows.nonEmpty) {
        val raw = rows.map { case (id, g) => s"$id,$g" }.toDF("value")
        val encoded = net.preprocess(raw)
        val selected = net.selectConcept(encoded, "origin")
        assert(selected.columns.toSeq == Seq("candidate_id", "gender"))
        assert(selected.collect().toSeq == encoded.collect().toSeq.map(r =>
          org.apache.spark.sql.Row(r.get(0), r.get(1))))
      }
    }
  }

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    forAll(Gen.listOfN(30, Gen.oneOf("a", "b", "c", "dd", "ee"))) { texts =>
      whenever(texts.nonEmpty) {
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val once = graft.llm.Dedup.exactSurvivors(docs)
        val twice = graft.llm.Dedup.exactSurvivors(
          once.join(docs, once("keep_id") === docs("doc_id"))
            .select(col("keep_id").as("doc_id"), col("text")))
        assert(once.select("keep_id").collect().toSet ==
          twice.select("keep_id").collect().toSet)
      }
    }
  }

  test("set-op algebra: (A except B) union (A intersect B) == distinct A") {
    forAll(Gen.zip(Gen.listOf(Gen.chooseNum(0, 30)), Gen.listOf(Gen.chooseNum(0, 30)))) {
      case (as, bs) =>
        whenever(as.nonEmpty) {
          val a = as.toDF("v")
          val b = bs.toDF("v")
          val lhs = a.except(b).union(a.intersect(b))
          assert(lhs.collect().map(_.getInt(0)).sorted.toSeq ==
            as.distinct.sorted)
        }
    }
  }

  test("simhash of identical token multisets is equal regardless of spacing") {
    forAll(Gen.listOfN(8, Gen.identifier)) { words =>
      whenever(words.nonEmpty) {
        val t1 = words.mkString(" ")
        val t2 = words.mkString("  ") + " "
        val fps = Seq(t1, t2).toDF("text")
          .select(graft.llm.Dedup.simhash64(col("text"))).collect()
        assert(fps(0).getLong(0) == fps(1).getLong(0))
      }
    }
  }

  test("asof join equals a per-row scan oracle on random tables with ts ties") {
    // small domains force key collisions AND timestamp ties — the case the
    // window tiebreaker exists for; oracle = brute-force max-struct scan
    val evGen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 9L), Gen.chooseNum(0, 99)))
    forAll(evGen, n = 8) { rows =>
      whenever(rows.nonEmpty) {
        import java.sql.Timestamp
        val left = rows.zipWithIndex
          .map { case ((k, t, _), i) => (i.toLong, k, new Timestamp(t * 1000)) }
          .toDF("lid", "key", "lts")
        // drop ~half the right rows (seeded) so some left rows have NO
        // match — otherwise the null/None oracle arm is dead code, since
        // every left (key, ts) would trivially match its own right twin
        val keptRight = rows.filter { case (k, t, v) => (k + t + v) % 2 == 0 }
        val right = keptRight
          .map { case (k, t, v) => (k, new Timestamp(t * 1000), v.toDouble) }
          .toDF("key", "rts", "payload")
        val got = graft.operators.AsOf.join(
            left, right, "key", "lts", "rts", Seq("payload"), strict = false)
          .select("lid", "asof_payload")
          .collect().map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
        // oracle: for each left row, rows with rts <= lts; max (rts, payload)
        val rightRows = keptRight.map { case (k, t, v) => (k, t, v.toDouble) }
        rows.zipWithIndex.foreach { case ((k, t, _), i) =>
          val cands = rightRows.filter(r => r._1 == k && r._2 <= t)
          val expected =
            if (cands.isEmpty) None
            // AsOf's tie rule: greatest payload struct (payload, rts) wins
            // among max-rts candidates
            else Some(cands.filter(_._2 == cands.map(_._2).max).map(_._3).max)
          assert(got(i.toLong) == expected,
            s"left row $i (key=$k ts=$t): got ${got(i.toLong)}, expected $expected")
        }
      }
    }
  }

  test("langid: normalize is idempotent and classification is total") {
    val profiles = Seq("en" -> Seq("the" -> 5, "he " -> 3),
      "de" -> Seq("der" -> 5, "und" -> 3))
    val textGen = Gen.listOfN(40, Gen.frequency(
      6 -> Gen.alphaChar, 2 -> Gen.const(' '), 1 -> Gen.numChar,
      1 -> Gen.oneOf('!', '.', '-', 'É', '\n'))).map(_.mkString)
    forAll(textGen, n = 40) { t =>
      val norm = graft.llm.LangId.normalize(t)
      // idempotent; only [a-z ] survive; no runs or edge spaces
      assert(graft.llm.LangId.normalize(norm) == norm)
      assert(norm.forall(c => c == ' ' || (c >= 'a' && c <= 'z')))
      assert(!norm.contains("  ") && norm.trim == norm)
      val (lang, score) = graft.llm.LangId.classify(norm, profiles)
      assert(score >= 0 && (score > 0 || lang == "und"))
    }
  }

  test("tar framing: built archive length matches the ustar arithmetic") {
    val entryGen = Gen.zip(Gen.chooseNum(0, 1300), Gen.alphaLowerStr.map(_.take(20)))
    forAll(Gen.nonEmptyListOf(entryGen).map(_.take(6)), n = 20) { specs =>
      whenever(specs.nonEmpty) {
        val entries = specs.zipWithIndex.map { case ((len, name), i) =>
          (s"d/${name}_$i", Array.fill[Byte](len)('y'.toByte), '0')
        }
        val bytes = graft.llm.Tar.build(entries)
        val expected = specs.map { case (len, _) =>
          512L + 512L * ((len + 511L) / 512L)
        }.sum + 1024L
        assert(bytes.length.toLong == expected)
        // and the walk round-trips every member
        val ms = graft.llm.Tar.decode(bytes).get
        assert(ms.map(_.size) == specs.map(_._1.toLong))
      }
    }
  }

  test("gopher: integer verdicts agree with the float formulation") {
    val lineGen = Gen.oneOf(
      "- the item of value", "plain words of text here", "ends with dots...",
      "the and of with", "# tag ## line", "solid prose line continues")
    forAll(Gen.nonEmptyListOf(lineGen).map(_.take(12)), n = 25) { lines =>
      val rep = graft.llm.Gopher.report(1L, lines.mkString("\n"))
      if (rep.n_words > 0) {
        val mean = rep.sum_word_len.toDouble / rep.n_words
        assert(rep.pass_mean_len == (mean >= 3.0 && mean <= 10.0))
        assert(rep.pass_symbol ==
          (rep.n_symbols.toDouble / rep.n_words <= 0.1))
        assert(rep.pass_alpha ==
          (rep.n_alpha_words.toDouble / rep.n_words >= 0.8))
      }
      if (rep.n_lines > 0) {
        assert(rep.pass_bullet ==
          (rep.n_bullet_lines.toDouble / rep.n_lines <= 0.9))
        assert(rep.pass_ellipsis ==
          (rep.n_ellipsis_lines.toDouble / rep.n_lines <= 0.3))
      }
    }
  }

  test("markdown: code-span masking restores contents byte-exactly") {
    val spanGen = Gen.oneOf("[x](y)", "*em*", "__b__", "plain", "a&b", "{}")
    forAll(Gen.listOfN(4, spanGen), n = 25) { spans =>
      val line = spans.zipWithIndex
        .map { case (s, i) => s"t$i `$s`" }.mkString(" ")
      val e = graft.llm.Markdown.extract(line)
      // every span's content present verbatim; none counted as links
      spans.foreach(s => assert(e.text.contains(s)))
      assert(e.nLinks == 0)
    }
  }

  test("salted skew join equals the plain join on generated skewed data") {
    forAll(Gen.listOfN(60, Gen.frequency(
      8 -> Gen.const(1L), 2 -> Gen.chooseNum(2L, 5L))), n = 6) { keys =>
      whenever(keys.nonEmpty) {
        val facts = keys.zipWithIndex
          .map { case (k, i) => (k, i.toLong) }.toDF("k", "fact_val")
        val dims = (1L to 5L).map(k => (k, s"dim$k")).toDF("k", "dim_val")
        val plain = facts.join(dims, "k")
        val salted = graft.operators.SkewJoin
          .saltedInnerJoin(facts, dims, "k", factor = 4)
          .select(plain.columns.map(col).toIndexedSeq: _*)
        assert(plain.exceptAll(salted).count() == 0)
        assert(salted.exceptAll(plain).count() == 0)
      }
    }
  }
}
