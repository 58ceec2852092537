package graft.matching

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.store.EntityStore
import graft.xref.XrefCorpus

/** The binary view ([[EntityView.encode]]) against the struct view it
  * replaced: encoding round-trips every view, and scoring the in-repo
  * xref corpus through binary views gives every algorithm column
  * bit-equal to scoring through 17-field structs read back by a
  * `Row → EntityView` converter, the former `rowToView`, kept here.
  */
class EntityViewSpec extends AnyFunSuite {
  import SparkSpec.spark

  private val str: Gen[String] = Gen.frequency(
    1 -> Gen.const(null: String), 1 -> Gen.const(""),
    8 -> Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf("ßÆé Ж北ខ\u0000".toSeq),
      Gen.const('\uD83D'), Gen.const('\uDE00'))).map(_.mkString))
  private val list: Gen[Seq[String]] = Gen.frequency(
    1 -> Gen.const(null: Seq[String]),
    6 -> Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, str)))
  private val view: Gen[EntityView] = for {
    id <- str; schema <- str; ls <- Gen.listOfN(15, list)
  } yield EntityView(id, schema, ls(0), ls(1), ls(2), ls(3), ls(4), ls(5),
    ls(6), ls(7), ls(8), ls(9), ls(10), ls(11), ls(12), ls(13), ls(14))

  test("encode/decode round-trips every view") {
    (1 to 2000).foreach { i =>
      view.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { v =>
        // a lone surrogate does not survive UTF-8; every other string does
        val valid = v.productIterator.forall {
          case s: String => s == new String(s.getBytes("UTF-8"), "UTF-8")
          case l: Seq[_] => l.forall(s => s == null ||
            s == new String(s.asInstanceOf[String].getBytes("UTF-8"), "UTF-8"))
          case _ => true
        }
        if (valid) assert(EntityView.decode(EntityView.encode(v)) === v)
      }
    }
  }

  test("scorePairs on the xref corpus equals the struct-view form") {
    val stmts = XrefCorpus.statements(spark)
    val views = EntityMatch.views(EntityStore.assemble(stmts), stmts).cache()
    val ids = views.select(col("id")).collect().map(_.getString(0)).sorted
    val pairs = spark.createDataFrame(spark.sparkContext.parallelize(
      for (l <- ids.toSeq; r <- ids if l > r) yield (l, r)))
      .toDF("lid", "rid")
    val names = Algorithms.registry.keys.toSeq.sorted
    val got = EntityMatch.scorePairs(pairs, views, names)

    val structView = udf((b: Array[Byte]) => EntityView.decode(b))
    val structs = views.withColumn("view", structView(col("view")))
    val algos = names.map(Algorithms.registry(_))
    val scoreUdf = udf((l: Row, r: Row) => algos.map(
      _.score(EntityViewSpec.rowToView(l), EntityViewSpec.rowToView(r))))
    def side(p: String) = structs.select(col("id").as(s"${p}id"),
      col("view").as(s"${p}view"), col("schema").as(s"${p}schema"),
      col("datasets").as(s"${p}datasets"))
    val want = names.zipWithIndex.foldLeft(pairs.join(side("l"), Seq("lid"))
        .join(side("r"), Seq("rid"))
        .withColumn("scores", scoreUdf(col("lview"), col("rview")))) {
      case (df, (n, i)) => df.withColumn(n.replace("-", "_"),
        round(element_at(col("scores"), i + 1), 6))
    }.drop("lview", "rview", "scores")

    assert(got.columns.toSeq === want.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case x => x
      }).sortBy(r => (r(0).toString, r(1).toString)).toSeq
    val (g, w) = (rows(got), rows(want))
    assert(g.size === ids.length * (ids.length - 1) / 2)
    assert(g.size > 20)
    assert(g === w)
    views.unpersist()
  }
}

object EntityViewSpec {
  def rowToView(r: Row): EntityView = EntityView(
    r.getString(0), r.getString(1),
    r.getSeq[String](2), r.getSeq[String](3), r.getSeq[String](4),
    r.getSeq[String](5), r.getSeq[String](6), r.getSeq[String](7),
    r.getSeq[String](8), r.getSeq[String](9), r.getSeq[String](10),
    r.getSeq[String](11), r.getSeq[String](12), r.getSeq[String](13),
    r.getSeq[String](14))
}
