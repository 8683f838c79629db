package graftbench

import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Graft, GraftKG, KGQueries}
import graft.exec.OracleSql
import graft.lang.Binding.Binding
import graft.model.KG
import graft.score.{ComplEx, DistMult, Embeddings, KGEModel, RotatE, TransE}

/** One generated request. The program sees only its inputs: `lang` holds the
  * (lstr, binding) instances it carries, `call` makes the facade call and
  * shapes the collected result, `digest` reduces the collected rows to what
  * the oracle compares, and `oracle` tells the checker how to recompute it. */
final case class Req(kind: String, key: String,
                     lang: Seq[(String, Binding)],
                     call: GraftKG => DataFrame,
                     digest: Array[Row] => (String, Long),
                     oracle: Map[String, Any])

/** Sizes of the generated tables, read from the `sizes.json` that
  * perfbench/datagen.py writes next to them. */
final case class Sizes(suppliers: Int, parts: Int)

object Sizes {
  def read(dir: String): Sizes = {
    val t = Main.json.readTree(new java.io.File(s"$dir/sizes.json"))
    Sizes(t.get("supplier").asInt, t.get("part").asInt)
  }
}

trait Workload {
  def kinds: Seq[String]
  /** Timed set-up steps once the session exists; returns the facade and the
    * seconds each step took. */
  def setup(spark: SparkSession): (GraftKG, Map[String, Double])
  /** One instance of `kind` in cycle `cycle`, its inputs drawn from `rng`. */
  def make(kind: String, cycle: Int, rng: Random): Req
  /** Static inputs of the oracle (SQL fragments, universe, ...). */
  def oracleContext: Map[String, Any] = Map.empty

  /** Endless request stream: cycle after cycle, every kind once per cycle,
    * each with seeded inputs. The order of kinds is fixed, so the JVM warms
    * up over the same sequence of plans in every run. */
  def requests(seed: Long): Iterator[Req] = {
    val rng = new Random(seed)
    Iterator.from(0).flatMap(c => kinds.map(k => make(k, c, rng)))
  }
}

object Workload {
  /** `data` holds the query KG's tables, `trainData` the smaller KG that
    * cqd-rank trains over. */
  def apply(name: String, data: String, trainData: String): Workload = {
    val sizes = Sizes.read(data)
    name match {
      case "efo1-hard" => new Efo1Hard(sizes, data)
      case "cqd-rank" => new CqdRank(sizes, data, trainData)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def sha1(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Digest of a row set: order-free, doubles at 6 decimals. */
  def rowsDigest(rows: Array[Row]): (String, Long) = {
    def cell(v: Any): String = v match {
      case d: Double => f"$d%.6f"
      case null => "null"
      case x => x.toString
    }
    (Workload.sha1(rows.map(_.toSeq.map(cell).mkString("|")).sorted.mkString("\n")),
     rows.length.toLong)
  }

  /** The 25 EFO-1 types: their shapes and relation bindings from
    * KGQueries.all, with the anchors (nation, region, supplier, segment)
    * redrawn from `rng`. */
  def efo1Instance(kind: String, rng: Random, sizes: Sizes): (String, Binding) = {
    val (_, lstr, b0) = KGQueries.all.find(_._1 == kind).get
    val b = b0.map {
      case (k, v) if k.startsWith("s") =>
        val tag = v / KG.TAG_BASE
        val n = tag match {
          case KG.TAG_NATION => 25
          case KG.TAG_REGION => 5
          case KG.TAG_SUPPLIER => sizes.suppliers
          case KG.TAG_SEGMENT => 5
          case t => throw new IllegalStateException(s"anchor tag $t")
        }
        k -> KG.ent(tag, rng.nextInt(n).toLong)
      case kv => kv
    }
    (lstr, b)
  }

  def bindingKey(b: Binding): String =
    b.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")

  /** Entity universe of the KG as oracle SQL (one branch per key tag). */
  val universeSql: String = Seq(
    "SELECT CAST(100000000 + c_custkey AS BIGINT) AS id FROM customer",
    "SELECT CAST(200000000 + n_nationkey AS BIGINT) FROM nation",
    "SELECT CAST(300000000 + r_regionkey AS BIGINT) FROM region",
    "SELECT CAST(400000000 + s_suppkey AS BIGINT) FROM supplier",
    "SELECT CAST(500000000 + p_partkey AS BIGINT) FROM part",
    "SELECT CAST(600000000 + o_orderkey AS BIGINT) FROM orders")
    .mkString(" UNION ALL ")
}

import Workload._

/** Exact answering of seeded EFO-1 instances through `Graft.answer`, plus
  * the two facade calls that read the same cached edges view and write
  * checkpoints: split evaluation (`evaluate`: `Workload.evaluate`, the
  * tagged `HardExec` pipeline and `Ranking.filteredRanksBinary`) and the
  * `GraphOps` BFS loop (`bfs`). */
final class Efo1Hard(sizes: Sizes, dir: String) extends Workload {
  val kinds: Seq[String] = KGQueries.all.map(_._1) ++ Seq("evaluate", "bfs")
  /** The types `evaluate` runs, with seeded anchors; kg_3p has held-out
    * answers under the train split. */
  val evalTypes: Seq[String] = Seq("kg_3p")
  val bfsLevels = 2

  def setup(spark: SparkSession): (GraftKG, Map[String, Double]) = {
    val (kg, _) = timed(Graft.fromTestdata(spark, dir))
    val (_, edgesS) = timed(kg.edges.count())
    val (_, statsS) = timed(KG.relStats(spark, dir))
    (kg, Map("edges_load_s" -> edgesS, "rel_stats_s" -> statsS))
  }

  def make(kind: String, cycle: Int, rng: Random): Req = kind match {
    case "evaluate" =>
      val types = evalTypes.map { k =>
        val (lstr, b) = efo1Instance(k, rng, sizes)
        (k, lstr, b)
      }
      Req(kind, s"$kind|${types.map(t => t._1 + ":" + bindingKey(t._3)).mkString(";")}",
        types.map(t => t._2 -> t._3),
        kg => kg.evaluate(dir, types),
        rowsDigest,
        Map("type" -> "eval",
            "sql" -> graft.eval.Workload.evaluateSql(types, universeSql)))
    case "bfs" =>
      val seeds = Seq.fill(2)(KG.ent(KG.TAG_NATION, rng.nextInt(25))).distinct.sorted
      Req(kind, s"$kind|${seeds.mkString(",")}", Nil,
        kg => kg.bfs(seeds, bfsLevels),
        rowsDigest, Map("type" -> "bfs", "seeds" -> seeds, "levels" -> bfsLevels))
    case _ =>
      val (lstr, b) = efo1Instance(kind, rng, sizes)
      Req(kind, s"$kind|${bindingKey(b)}", Seq(lstr -> b),
        kg => kg.answer(lstr, b),
        rows => {
          val ids = rows.map(_.getLong(0)).sorted
          (Workload.sha1(ids.mkString(",")), ids.length.toLong)
        },
        Map("type" -> "hard", "sql" -> OracleSql.formulaSqlOver(lstr, b, "edges")))
  }

  override def oracleContext: Map[String, Any] = Map("edges_cte" -> KG.edgesCte)
}

/** Scored ranking: CQD beam (`rank`), batched CQD (`rankBatch`) and LMPNN
  * (`rankLMPNN`) over a stated entity universe, models rotated over TransE,
  * DistMult, ComplEx and RotatE, top-10 collected; plus one SGD step of
  * `GraftKG.train` (`Training`, TransE and DistMult in turn) over the small
  * KG in `trainDir`. */
final class CqdRank(sizes: Sizes, dir: String, trainDir: String)
    extends Workload {
  val dim = 16
  val beam = 8
  val batch = 4
  val lmpnnInstances = 2
  /** The universe: every supplier plus the first `universeParts` parts. */
  val universeParts: Int = math.min(sizes.parts, 500)
  val shapes: Seq[String] = Seq("1p", "2p", "3p", "2i", "2in", "2u", "up", "3c")
  /** Every shape through the beam; rankBatch and LMPNN (conjunctive shapes
    * only) on a few, which keeps a cycle of kinds short enough for the
    * timed loop. The two kinds whose top-10 the oracle checks, beam.1p and
    * batch.1p, sit two places apart, so that two consecutive cycles give
    * them all four models (see `ranked`). */
  val kinds: Seq[String] =
    Seq("beam.1p", "beam.2p", "batch.1p", "batch.2p") ++
      shapes.drop(2).map("beam." + _) ++ Seq("lmpnn.1p", "lmpnn.2in", "train")
  val models: Seq[(String, KGEModel)] = Seq(
    "transe" -> TransE(2), "distmult" -> DistMult, "complex" -> ComplEx,
    "rotate" -> RotatE)

  private var ents: DataFrame = _
  private var rels: DataFrame = _
  private var relsHalf: DataFrame = _
  /** The training KG of the current session, made by its first `train`
    * request (in the priming cycle), so that set-up is only the ranking
    * tables. */
  private var trainKg: GraftKG = _

  def setup(spark: SparkSession): (GraftKG, Map[String, Double]) = {
    val kg = Graft.fromTestdata(spark, dir)
    trainKg = null
    val (_, dictS) = timed {
      val universe = kg.entities.select("id").filter(
        col("id").between(KG.ent(KG.TAG_SUPPLIER, 0),
                          KG.ent(KG.TAG_SUPPLIER, sizes.suppliers - 1)) ||
          col("id").between(KG.ent(KG.TAG_PART, 0),
                            KG.ent(KG.TAG_PART, universeParts - 1)))
      ents = Embeddings.deterministic(universe, "id", dim, 0.3)
        .persist(StorageLevel.MEMORY_AND_DISK)
      ents.count()
    }
    val (_, relS) = timed {
      rels = Embeddings.deterministic(spark.range(64).toDF("id"), "id", dim, 1.7)
        .persist(StorageLevel.MEMORY_AND_DISK)
      relsHalf = Embeddings.deterministic(spark.range(64).toDF("id"), "id",
        dim / 2, 1.7).persist(StorageLevel.MEMORY_AND_DISK)
      rels.count(); relsHalf.count()
    }
    (kg, Map("entity_dict_s" -> dictS, "embeddings_s" -> relS))
  }

  override def oracleContext: Map[String, Any] = Map(
    "universe" -> ((0 until sizes.suppliers).map(k => KG.ent(KG.TAG_SUPPLIER, k)) ++
                   (0 until universeParts).map(k => KG.ent(KG.TAG_PART, k))))

  private def anchor(rng: Random): Long =
    if (rng.nextBoolean()) KG.ent(KG.TAG_SUPPLIER, rng.nextInt(sizes.suppliers))
    else KG.ent(KG.TAG_PART, rng.nextInt(universeParts))

  private def instance(shape: String, rng: Random): (String, Binding) = {
    val (_, lstr, b0) = KGQueries.all.find(_._1 == s"kg_$shape").get
    (lstr, b0.map {
      case (k, _) if k.startsWith("s") => k -> anchor(rng)
      case (k, _) => k -> rng.nextInt(22).toLong
    })
  }

  private def top10PerQid(df: DataFrame): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("entity").asc)))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("entity"), col("score"))

  private def trainingKg(kg: GraftKG): GraftKG = synchronized {
    if (trainKg == null) trainKg = Graft.fromTestdata(kg.spark, trainDir)
    trainKg
  }

  def make(kind: String, cycle: Int, rng: Random): Req =
    if (kind == "train") {
      val model = if (cycle % 2 == 0) "transe" else "distmult"
      Req(kind, s"$kind|$model", Nil,
        kg => trainingKg(kg).train(model).agg(count(lit(1)).as("n"),
                                              round(sum(col("x")), 6).as("sx")),
        rowsDigest, Map("type" -> "repeat"))
    } else ranked(kind, cycle, rng)

  private def ranked(kind: String, cycle: Int, rng: Random): Req = {
    val Array(exec, shape) = kind.split('.')
    // Models rotate: each kind meets every model once in four cycles.
    val (mName, model) = models((kinds.indexOf(kind) + cycle) % models.size)
    val n = exec match { case "beam" => 1; case "batch" => batch; case _ => lmpnnInstances }
    val insts = (0 until n).map(_ => instance(shape, rng))
    val lstr = insts.head._1
    val bs = insts.map(_._2)
    val relTable = () => if (model == RotatE) relsHalf else rels
    val call: GraftKG => DataFrame = exec match {
      case "beam" => kg =>
        kg.rank(lstr, bs.head, model, beam, dim, Some(ents), Some(relTable()))
          .orderBy(col("score").desc, col("entity").asc).limit(10)
          .select(lit(0L).as("qid"), col("entity"), col("score"))
      case "batch" => kg =>
        top10PerQid(kg.rankBatch(lstr, bs, model, beam, dim, Some(ents),
                                 Some(relTable())))
      case "lmpnn" => kg =>
        top10PerQid(kg.rankLMPNN(bs.map(lstr -> _), model, 0, dim, Some(ents),
                                 Some(relTable())))
    }
    val check: Map[String, Any] =
      if (shape == "1p" && exec != "lmpnn")
        Map("type" -> "topk1p", "model" -> mName,
            "instances" -> bs.map(b => Seq(b("s1"), b("r1"))))
      else Map("type" -> "repeat")
    Req(kind, s"$kind|$mName|${bs.map(bindingKey).mkString(";")}",
        insts, call, rowsDigest, check)
  }
}
