package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.llm.Rp

class LshBandKeysSpec extends SparkSpec {
  import spark.implicits._

  private def registered() = GraftFunctions.register(spark)

  // the pre-r9 two-step formulation, reconstructed: a shared matmul
  // projection column read by per-band element_at expressions — the
  // band-key ground truth the single-call expressions must match bit-for-
  // bit (same planes, same float→double summation order)
  private def planes(dim: Int, n: Int) = Rp.hyperplanes(dim, n, seed = 42L)

  test("sign_band_keys ≡ per-band sign folds over vector_matmul, bit for bit") {
    registered()
    val bands = 6; val bits = 5
    val ps = planes(64, bands * bits)
    val e = Tables(spark, sf0001, "embeddings")
    val projs = call_function(GraftFunctions.VectorMatMulName,
      col("embedding"), typedlit(ps))
    val twoStep = (0 until bands).map { bd =>
      val bitSum = (0 until bits).map { i =>
        when(element_at(projs, lit(bd * bits + i + 1)) >= 0, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(bd).as("t"), bitSum.as("k"))
    }
    val oneCall = call_function(GraftFunctions.SignBandKeysName,
      col("embedding"), typedlit(ps), lit(bands), lit(bits))
    val diff = e.select(
        array(twoStep: _*).as("a"), oneCall.as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diff.count() == 0, "sign band keys diverged from the two-step formulation")
  }

  test("floor_band_keys ≡ per-table floor buckets over vector_matmul, bit for bit") {
    registered()
    val tables = 4; val projsPer = 3; val bucketLen = 1.5
    val ps = planes(64, tables * projsPer)
    val e = Tables(spark, sf0001, "embeddings")
    val projs = call_function(GraftFunctions.VectorMatMulName,
      col("embedding"), typedlit(ps))
    val twoStep = (0 until tables).map { t =>
      val floors = (0 until projsPer).map { p =>
        floor(element_at(projs, lit(t * projsPer + p + 1)) / bucketLen).cast("long")
      }
      struct(lit(t).as("t"), array(floors: _*).as("k"))
    }
    val oneCall = call_function(GraftFunctions.FloorBandKeysName,
      col("embedding"), typedlit(ps), lit(tables), lit(projsPer), lit(bucketLen))
    val diff = e.select(array(twoStep: _*).as("a"), oneCall.as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diff.count() == 0, "floor band keys diverged from the two-step formulation")
  }

  test("null semantics: null array, null element, wrong length → null") {
    registered()
    val ps = planes(2, 4)
    def keys(c: org.apache.spark.sql.Column) =
      call_function(GraftFunctions.SignBandKeysName, c, typedlit(ps), lit(2), lit(2))
    val rows = Seq(
      Array(1f, 2f),   // valid
      Array(1f)        // wrong length
    ).toDF("a")
      .union(Seq(null.asInstanceOf[Array[Float]]).toDF("a"))
      .select(keys(col("a")).as("k")).collect()
    assert(!rows(0).isNullAt(0))
    assert(rows(0).getSeq[Any](0).length == 2)
    assert(rows(1).isNullAt(0))
    assert(rows(2).isNullAt(0))

    val withNullElem = Seq(Seq(Some(1f), None)).toDF("a")
      .select(keys(col("a")).as("k")).collect()
    assert(withNullElem(0).isNullAt(0))
  }

  test("boundary_guard's q35a probe literals match Rp.hyperplanes — no silent drift") {
    // the Python guard hard-codes the 12 plane vectors as DOUBLE literals
    // (it cannot call the JDK Gaussian); LlmQueries.q35a regenerates ITS
    // literals from Rp.hyperplanes at runtime. If the derivation, seed, or
    // config ever changes, the query adapts and the guard silently checks
    // the wrong candidate domain — this pin turns that drift into a red
    // test naming the culprit.
    val guardSrc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("scripts/boundary_guard.py")),
      java.nio.charset.StandardCharsets.UTF_8)
    val probeStart = guardSrc.indexOf("\"q35a.dist\"")
    assert(probeStart >= 0, "q35a.dist probe missing from boundary_guard.py")
    val probe = guardSrc.substring(probeStart,
      guardSrc.indexOf("\"\"\"),", probeStart))
    val lists = """\[([-0-9.eE, ]+)\]::DOUBLE\[\]""".r
      .findAllMatchIn(probe)
      .map(_.group(1).split(",").map(_.trim.toDouble).toSeq).toSeq
    val expected = Rp.hyperplanes(dim = 64, n = 12, seed = 42L)
      .map(_.toSeq.map(_.toDouble))
    assert(lists.length == expected.length,
      s"guard probe carries ${lists.length} plane literals, engine uses ${expected.length}")
    for ((row, i) <- expected.zipWithIndex)
      assert(lists(i) == row,
        s"guard probe plane $i drifted from Rp.hyperplanes(64, 12, 42)")
  }

  test("the signature plan evaluates the projections once: no vector_matmul appears") {
    // the r9 defect this family fixes: a shared __projs matmul column was
    // inlined at every element_at reference when the optimizer collapsed
    // the projection (240 copies of the matmul, ~22 GFLOP for a 92 MFLOP
    // stage). Pin the fixed shape: the candidate plan carries the
    // single-call band-keys expression and NO per-reference matmul.
    val e = Tables(spark, sf0001, "embeddings")
    val p = Rp.cosineNearPairs(e, 0.3)
      .queryExecution.executedPlan.toString
    assert(p.contains("sign_band_keys"), "band keys no longer flow through the single-call expression")
    assert(!p.contains("vector_matmul"), "a per-reference matmul reappeared in the candidate plan")
  }
}
