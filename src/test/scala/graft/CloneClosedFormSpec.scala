package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Clone-scale closed forms. The table-driven half runs the SHIPPED
  * `SparkEntry.queries` on sf0.001 and on its 3× `Tables.cloneDir` clone
  * (exact copies, ids offset by `i · Tables.CloneOffset`) and asserts each
  * query's clone algebra on the shipped output: counts ×c, pairs
  * c²·P + C(c,2)·n, ratios invariant, survivors in copy 0. A regression in
  * an operator's candidate structure, grouping key or tie-break breaks an
  * equality here first. Relations that hold only on an intermediate
  * result, or need a different clone policy, are operator-level cases
  * below the table. `graft.Bench` with `SPARK_GRAFT_SCALE_COPIES` times
  * the same queries at 10× (bench/clone_scale.md).
  */
class CloneClosedFormSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val offset = 1000L
  private val c = 3

  private def corpus = {
    import spark.implicits._
    val vocab = Vector("kappa", "theta", "sigma", "omega", "lambda", "gamma",
      "delta", "epsilon", "zeta", "iota", "rho", "tau")
    (0 until 30).map { i =>
      val fam = i / 3
      val words = (0 until 30).map(j => vocab((fam * 13 + j * 7) % vocab.size))
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def cloned = {
    import spark.implicits._
    (0 until c).map(i => corpus.select(($"doc_id" + lit(i * offset)).as("doc_id"), $"text"))
      .reduce(_ unionByName _)
  }

  test("exact setsim closure: 3x output = 9*P1 + 3*n clone pairs, clones at J=1") {
    import spark.implicits._
    val p1 = graft.operators.SetSimJoin
      .selfJoin(corpus, "doc_id", "text", shingleN = 5, tau4 = 9000L).count()
    val scaled = graft.operators.SetSimJoin
      .selfJoin(cloned, "doc_id", "text", shingleN = 5, tau4 = 9000L)
      .localCheckpoint(false)
    assert(scaled.count() == c * c * p1 + 30L * c * (c - 1) / 2)
    assert(scaled
      .filter(pmod($"id_a", lit(offset)) === pmod($"id_b", lit(offset)))
      .filter($"inter" =!= $"uni").count() == 0)
  }

  test("harmonic centrality clone algebra: n1' = (c-1)+c*n1, nf' = c*nf, h' = (c-1)e6 + c*h") {
    val pairsB = graft.operators.Dedup.nearDupPairs(corpus, "doc_id", "text",
      numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 1.0)
    val pairsS = graft.operators.Dedup.nearDupPairs(cloned, "doc_id", "text",
      numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 1.0)
    val hB = graft.operators.GraphMetrics
      .harmonicCentrality(pairsB, "id_a", "id_b", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = graft.operators.GraphMetrics
      .harmonicCentrality(pairsS, "id_a", "id_b", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.size == c * 30, s"${got.size} nodes, want ${c * 30}")
    got.foreach { case (id, (n1, nf, hm)) =>
      val want = hB.get(id % offset) match {
        case Some((b1, bf, bh)) =>
          ((c - 1) + c * b1, c * bf, (c - 1) * 1000000L + c * bh)
        case None => ((c - 1).toLong, 0L, (c - 1) * 1000000L)
      }
      assert((n1, nf, hm) == want, s"node $id: got ($n1,$nf,$hm) want $want")
    }
  }

  test("harmonic guard: a giant clique is flagged and never traversed; small components match the unguarded run; clones below the cap keep the closed form") {
    import spark.implicits._
    // engineered graph over a 100-id corpus: K40 (quadratic closure bait,
    // 40% share >> the 10% cap) + a 3-node path + a 2-node edge
    val clique = for { a <- 0 until 40; b <- (a + 1) until 40 }
      yield (a.toLong, b.toLong)
    val small = Seq((40L, 41L), (41L, 42L), (43L, 44L))
    val pairs = (clique ++ small).toDF("id_a", "id_b")
    val total = (0 until 100).map(_.toLong).toDF("doc_id")
    val g = graft.operators.GraphMetrics
      .harmonicCentralityGuarded(pairs, "id_a", "id_b", hops = 3,
        maxShare4 = 1000L, totalIds = total)
      .collect()
    val (flagged, ok) = g.partition(_.getInt(4) == 1)
    assert(flagged.map(_.getLong(0)).sorted.toSeq == (0L until 40L), "K40 not flagged")
    assert(flagged.forall(r => r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)),
      "flagged members must carry NULL centrality — they were traversed")
    // the survivors equal the unguarded run on the small subgraph alone
    val plain = graft.operators.GraphMetrics
      .harmonicCentrality(small.toDF("id_a", "id_b"), "id_a", "id_b", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(ok.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap == plain)
    // reachability-mass evidence for the guard's point: the guarded dist
    // relation carries Σ(n_1hop + n_far) = 8 pair-distances (edge-sized),
    // while the unguarded closure on the same graph materializes the
    // clique's quadratic 40·39 mass on top of it
    val okMass = ok.map(r => r.getLong(1) + r.getLong(2)).sum
    val ungMass = graft.operators.GraphMetrics
      .harmonicCentrality(pairs, "id_a", "id_b", 3)
      .agg(sum($"n_1hop" + $"n_far")).as[Long].head()
    assert(okMass == 8L, s"guarded mass $okMass")
    assert(ungMass == okMass + 40L * 39L,
      s"unguarded closure should carry the quadratic clique mass: $ungMass")
    // clone path: dup-family cliques of size c stay far below the cap, so
    // the guarded q221 form preserves the clone algebra with flagged = 0.
    // The cliques are constructed explicitly (the 12-word salad corpus
    // above LSH-welds into ONE giant component — itself the scenario the
    // guard exists for, covered by the first half of this test): 15
    // families × 3 members × 3 clones = 9-doc components, 6.7% of the
    // 135-doc corpus, comfortably below the 10% cap.
    val famIds = (0 until 15).map { fam =>
      for { m <- 0 until 3; cp <- 0 until c } yield fam * 3 + m + cp * offset
    }
    val pairsS = famIds.flatMap { ids =>
      for { a <- ids; b <- ids if a < b } yield (a, b)
    }.toDF("id_a", "id_b")
    val allIds = famIds.flatten.toDF("doc_id")
    val gc = graft.operators.GraphMetrics
      .harmonicCentralityGuarded(pairsS, "id_a", "id_b", hops = 3,
        maxShare4 = 1000L, totalIds = allIds)
      .collect()
    assert(gc.forall(_.getInt(4) == 0), "clone cliques crossed the cap")
    val plainS = graft.operators.GraphMetrics
      .harmonicCentrality(pairsS, "id_a", "id_b", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(gc.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap == plainS)
  }

  // ---- shipped queries on sf0.001 and its 3× clone ----

  private val Sf = "/root/testdata/sf0.001"
  private val o = Tables.CloneOffset
  private val pairsOfClones = c.toLong * (c - 1) / 2

  private var cloneMade: Option[String] = None
  private def cloneSf: String = cloneMade.getOrElse {
    val d = Tables.cloneDir(spark, Sf, c)
    cloneMade = Some(d)
    d
  }

  override def afterAll(): Unit = {
    cloneMade.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    super.afterAll()
  }

  private val results = scala.collection.mutable.Map.empty[(String, String), Seq[Row]]

  /** One shipped query's collected output on `dir` (memoized per run). */
  private def shipped(name: String, dir: String): Seq[Row] =
    results.getOrElseUpdate((name, dir), {
      val rows = SparkEntry.queries(name)(spark, dir).collect().toSeq
      SparkEntry.releaseStaging(spark)
      rows
    })

  private lazy val nDocs: Long = Tables.load(spark, Sf, "documents").count()

  private def fam(id: Long): Long = id % o
  private def num(r: Row, i: Int): Long = r.get(i).asInstanceOf[Number].longValue
  private def key(r: Row): String = r.toSeq.mkString("|")
  private def sameRows(got: Seq[Row], want: Seq[Row]): Unit =
    assert(got.map(key).sorted == want.map(key).sorted)

  /** The 1× rows repeated once per copy with the id columns `ids` offset:
    * the clone of a per-entity output whose values are copy-invariant.
    */
  private def expand(base: Seq[Row], ids: Int*): Seq[String] =
    (0 until c).flatMap(i => base.map(r => r.toSeq.zipWithIndex.map {
      case (v: Long, j) if ids.contains(j) => v + i * o
      case (v, _) => v
    }.mkString("|")))

  /** Pair algebra of a self-join over the clone: every 1× pair appears c²
    * times across copies (as the same family pair, `rest` normalized for
    * orientation), and every document adds C(c,2) clone pairs whose
    * `clone` check holds: c²·P + C(c,2)·n rows.
    */
  private def pairAlgebra(base: Seq[Row], got: Seq[Row])(
      rest: (Row, Boolean) => Seq[Any], clone: Row => Boolean): Unit = {
    assert(got.size == c * c * base.size + pairsOfClones * nDocs,
      s"${got.size} pairs, want ${c * c} * ${base.size} + $pairsOfClones * $nDocs")
    val (clones, cross) = got.partition(r => fam(r.getLong(0)) == fam(r.getLong(1)))
    assert(clones.size == pairsOfClones * nDocs)
    assert(clones.forall(clone), "a clone pair failed its identity check")
    val folded = cross.groupBy { r =>
      val (a, b) = (fam(r.getLong(0)), fam(r.getLong(1)))
      (a.min(b), a.max(b), rest(r, a > b))
    }.map { case (k, rs) => k -> rs.size }
    assert(folded.values.forall(_ == c * c), "a 1x pair does not appear c² times")
    assert(folded.keySet == base.map(r => (r.getLong(0), r.getLong(1), rest(r, false))).toSet)
  }

  private def estJac(r: Row, flipped: Boolean): Seq[Any] = Seq(r.getDouble(2))

  /** Per-key rows where the `scaled` columns are ×c and the rest unchanged. */
  private def scaledBy(base: Seq[Row], got: Seq[Row], keyCols: Int, scaled: Int*): Unit = {
    val want = base.map(r => r.toSeq.zipWithIndex.map {
      case (v: Number, j) if scaled.contains(j) => v.longValue * c
      case (v, _) => v
    }.mkString("|"))
    assert(got.map(key).sorted == want.sorted)
    assert(got.map(_.toSeq.take(keyCols)).distinct.size == got.size)
  }

  private val cases: Seq[(String, String, (Seq[Row], Seq[Row]) => Unit)] = Seq(
    ("q39_neardup_lsh", "pairs c²·P + C(c,2)·n, clone pairs at est_jac 1",
      (b, s) => pairAlgebra(b, s)(estJac, _.getDouble(2) == 1.0)),
    ("q56_sql_dedup", "pairs c²·P + C(c,2)·n, clone pairs at est_jac 1",
      (b, s) => pairAlgebra(b, s)(estJac, _.getDouble(2) == 1.0)),
    ("q115_containment", "pairs c²·P + C(c,2)·n, clone pairs fully contained",
      (b, s) => pairAlgebra(b, s)(
        (r, flip) => if (flip) Seq(r.getDouble(3), r.getDouble(2), r.getDouble(4))
          else Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4)),
        r => r.getDouble(2) == 1.0 && r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0)),
    ("q250_threshold_sweep", "per τ: pairs c²·P(τ) + C(c,2)·n, every doc touched",
      (b, s) => {
        val want = b.map(r => Seq(r.getLong(0),
          c * c * r.getLong(1) + pairsOfClones * nDocs, c * nDocs).mkString("|"))
        assert(s.map(key).sorted == want.sorted)
      }),
    ("q147_dup_triangles", "c-clique blow-up: nodes c·n, edges n·C(c,2) + c²·E, " +
      "triangles n·C(c,3) + c²(c−1)·E + c³·T",
      (b, s) => {
        val (e, t) = (b.head.getLong(1), b.head.getLong(3))
        val r = s.head
        assert(r.getLong(0) == c * nDocs)
        assert(r.getLong(1) == nDocs * pairsOfClones + e * c * c)
        assert(r.getLong(3) ==
          nDocs * c * (c - 1) * (c - 2) / 6 + e * c * c * (c - 1) + t * c * c * c)
      }),
    ("q113_phrase_search", "per-doc hits ×c, values unchanged",
      (b, s) => assert(s.map(key).sorted == expand(b, 1).sorted)),
    ("q136_repetition_rules", "per-doc profile ×c, values unchanged",
      (b, s) => assert(s.map(key).sorted == expand(b, 0).sorted)),
    ("q148_novelty_score", "every gram in ≥ c docs: n_unique 0, n_grams unchanged, rows ×c",
      (b, s) => {
        val grams = b.map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(s.size == c * b.size)
        s.foreach(r => assert(r.getLong(1) == grams(fam(r.getLong(0))) &&
          r.getLong(2) == 0L && r.getDouble(3) == 0.0, key(r)))
      }),
    ("q85_span_dedup", "every doc of ≥ 5 tokens fully covered in one run, rows ×c",
      (b, s) => {
        val base = b.map(r => r.getLong(0) -> r).toMap
        assert(s.size == c * b.size)
        s.foreach { r =>
          val n = num(base(fam(r.getLong(0))), 1)
          val want = if (n >= 5) Seq[Any](n, n - 4, 1L, n, 1.0)
            else base(fam(r.getLong(0))).toSeq.drop(1)
          assert(r.toSeq.drop(1).map(_.toString) == want.map(_.toString), key(r))
        }
      }),
    ("q131_span_dedup_apply", "copy 0 keeps its 1× rows; later copies drop every token",
      (b, s) => {
        val base = b.map(r => r.getLong(0) -> r).toMap
        val (first, later) = s.partition(_.getLong(0) < o)
        sameRows(first, b)
        assert(later.size == (c - 1) * b.size)
        later.foreach { r =>
          val n = num(base(fam(r.getLong(0))), 1)
          if (n >= 5) assert(num(r, 2) == 0 && num(r, 3) == n, key(r))
          else assert(r.toSeq.drop(1) == base(fam(r.getLong(0))).toSeq.drop(1), key(r))
        }
      }),
    ("q167_span_incremental", "copy 0's delta keeps its 1× rows; every later copy's " +
      "doc is covered by the base index or copy 0 and drops every token",
      (b, s) => {
        val (first, later) = s.partition(_.getLong(0) < o)
        sameRows(first, b)
        assert(later.size == (c - 1) * nDocs)
        later.foreach(r => assert(
          if (num(r, 1) >= 5) num(r, 2) == 0 && num(r, 3) == num(r, 1) else num(r, 3) == 0,
          key(r)))
      }),
    ("q68_paragraph_dedup", "copy 0 keeps its 1× rows; later copies keep no paragraph",
      (b, s) => {
        val pars = b.map(r => r.getLong(0) -> r.get(1)).toMap
        val (first, later) = s.partition(_.getLong(0) < o)
        sameRows(first, b)
        assert(later.size == (c - 1) * b.size)
        later.foreach(r => assert(r.get(1) == pars(fam(r.getLong(0))) &&
          r.get(2).toString == "0", key(r)))
      }),
    ("q118_dedup_survivors", "1× clusters ×c members with the same survivor; " +
      "every 1× singleton a c-member cluster; survivors in copy 0",
      (b, s) => {
        val clustered = b.map(_.getLong(1)).sum
        val got = s.map(r => r.getLong(0) -> r).toMap
        assert(s.size == b.size + nDocs - clustered)
        b.foreach { r =>
          val g = got(r.getLong(0))
          assert(g.getLong(1) == c * r.getLong(1) && g.getLong(2) == r.getLong(2) &&
            g.get(3) == r.get(3), key(g))
        }
        val known = b.map(_.getLong(0)).toSet
        s.filterNot(r => known(r.getLong(0))).foreach(r =>
          assert(r.getLong(1) == c && r.getLong(2) == r.getLong(0), key(r)))
        assert(s.forall(_.getLong(2) < o), "a survivor outside copy 0")
      }),
    ("q165_guarded_dedup", "components ×c members, same share and flag; " +
      "1× isolated docs become unflagged c-member components",
      (b, s) => {
        val got = s.map(r => r.getLong(0) -> r).toMap
        assert(s.size == b.size + nDocs - b.map(_.getLong(1)).sum)
        b.foreach { r =>
          val g = got(r.getLong(0))
          val sv = if (num(r, 3) == 1) c * r.getLong(4) else 1L
          assert(g.getLong(1) == c * r.getLong(1) && g.getDouble(2) == r.getDouble(2) &&
            num(g, 3) == num(r, 3) && g.getLong(4) == sv, key(g))
        }
        val known = b.map(_.getLong(0)).toSet
        s.filterNot(r => known(r.getLong(0))).foreach(r =>
          assert(r.getLong(1) == c && num(r, 3) == 0 && r.getLong(4) == 1L, key(r)))
      }),
    ("q187_medoid_survivors", "same medoid per component, members ×c, " +
      "strength (c−1)·10⁴ + c·s, degree (c−1) + c·d",
      (b, s) => {
        val got = s.map(r => r.getLong(0) -> r).toMap
        assert(s.size == b.size + nDocs - b.map(_.getLong(2)).sum)
        b.foreach { r =>
          val g = got(r.getLong(0))
          assert(g.getLong(1) == r.getLong(1) && g.getLong(2) == c * r.getLong(2) &&
            g.getLong(3) == (c - 1) * 10000L + c * r.getLong(3) &&
            g.getLong(4) == (c - 1) + c * r.getLong(4), key(g))
        }
        val known = b.map(_.getLong(0)).toSet
        s.filterNot(r => known(r.getLong(0))).foreach(r =>
          assert(r.getLong(1) == r.getLong(0) && r.getLong(2) == c &&
            r.getLong(3) == (c - 1) * 10000L && r.getLong(4) == c - 1, key(r)))
      }),
    ("q221_harmonic_centrality", "per node n1 (c−1) + c·n1, nf c·nf, " +
      "h (c−1)·10⁶ + c·h; flagged stays flagged; every doc a node",
      (b, s) => {
        val base = b.map(r => r.getLong(0) -> r).toMap
        assert(s.size == c * nDocs)
        s.foreach { r =>
          base.get(fam(r.getLong(0))) match {
            case Some(br) if br.getInt(4) == 1 =>
              assert(r.getInt(4) == 1 && r.isNullAt(1), key(r))
            case Some(br) =>
              assert(r.getInt(4) == 0 && r.getLong(1) == (c - 1) + c * br.getLong(1) &&
                r.getLong(2) == c * br.getLong(2) &&
                r.getLong(3) == (c - 1) * 1000000L + c * br.getLong(3), key(r))
            case None =>
              assert(r.getInt(4) == 0 && r.getLong(1) == c - 1 && r.getLong(2) == 0L &&
                r.getLong(3) == (c - 1) * 1000000L, key(r))
          }
        }
      }),
    ("q170_dup_kcore", "every doc in the 2-core; clones share a core degree (c−1) + c·d",
      (b, s) => {
        assert(s.size == c * nDocs)
        s.groupBy(r => fam(r.getLong(0))).values.foreach { rs =>
          assert(rs.size == c && rs.map(num(_, 1)).distinct.size == 1 &&
            num(rs.head, 1) % c == c - 1, rs.map(key))
        }
      }),
    ("q108_dup_pagerank", "top-20: clones share rank and degree (c−1) + c·d; " +
      "families complete but the last",
      (b, s) => {
        assert(s.size == b.size)
        val fams = s.map(r => fam(r.getLong(0))).distinct
        s.groupBy(r => fam(r.getLong(0))).foreach { case (f, rs) =>
          assert(rs.map(r => (num(r, 1), num(r, 2))).distinct.size == 1 &&
            num(rs.head, 1) % c == c - 1, rs.map(key))
          assert(rs.size == c || f == fams.last, rs.map(key))
        }
      }),
    ("q119_token_shards", "documents and tokens ×c across the shards",
      (b, s) => {
        assert(s.map(_.getLong(1)).sum == c * b.map(_.getLong(1)).sum)
        assert(s.map(_.getLong(2)).sum == c * b.map(_.getLong(2)).sum)
        assert(s.head == b.head, "copy 0's first shard moved")
      }),
    ("q57_dedup_midrange", "windows over copy 0 only (doc_id < 200): 1× rows", sameRowsCase),
    ("q215_setsim_exact", "windows over copy 0 only (doc_id < 200): 1× rows", sameRowsCase),
    ("q272_winnowing_overlap", "windows over copy 0 only (doc_id < 200): 1× rows", sameRowsCase),
    ("q178_pq_ann", "queries are copy 0's first 16 vectors: same 16 query ids",
      (b, s) => assert(s.map(_.getLong(0)) == b.map(_.getLong(0)))),
    ("q235_auc_rank", "class counts ×c, AUC invariant",
      (b, s) => scaledBy(b, s, 1, 1, 2)),
    ("q238_t_closeness", "group sizes ×c, distance and verdict invariant",
      (b, s) => scaledBy(b, s, 2, 2)),
    ("q192_peak_concurrency", "starts, ends and peak ×c per bucket",
      (b, s) => scaledBy(b, s, 1, 1, 2, 3)),
    ("q234_watermark_lag", "event and late counts ×c, lateness invariant",
      (b, s) => scaledBy(b, s, 1, 1, 2)),
    ("q176_incremental_agg", "count and micro-sum ×c per (type, day)",
      (b, s) => {
        def cut(r: Row) = Seq(r.get(0), r.get(1), r.getLong(2), r.getLong(3))
        assert(s.map(cut) == b.map(r => Seq(r.get(0), r.get(1), c * r.getLong(2), c * r.getLong(3))))
      }),
    ("q169_bloom_prune", "items ×c and revenue ×c per (priority, month)",
      (b, s) => {
        assert(s.map(r => (r.get(0), r.get(1), r.getLong(2))) ==
          b.map(r => (r.get(0), r.get(1), c * r.getLong(2))))
        s.zip(b).foreach { case (g, r) =>
          assert(math.abs(g.getDouble(3) - c * r.getDouble(3)) <= 1e-3, s"${key(g)} vs ${key(r)}")
        }
      }),
    ("q240_seasonal_backtest", "daily volumes ×c: MAPE and winner invariant", sameRowsCase),
    ("q258_mann_kendall", "daily volumes ×c: every sign and tie kept, test invariant",
      sameRowsCase),
    ("q237_calibration", "events ×c (scores re-drawn per event id)",
      (b, s) => assert(s.map(_.getLong(1)).sum == c * b.map(_.getLong(1)).sum)),
    ("q284_host_graph", "host graph saturated at 1×: same hosts, degrees and ranks; " +
      "link mass ×c",
      (b, s) => {
        def shape(r: Row) = Seq(r.get(0), r.get(1), r.get(2), r.get(5), r.get(6))
        assert(s.map(shape) == b.map(shape))
        assert(s.map(num(_, 3)).sum == c * b.map(num(_, 3)).sum)
        assert(s.map(num(_, 4)).sum == c * b.map(num(_, 4)).sum)
      }))

  private def sameRowsCase(b: Seq[Row], s: Seq[Row]): Unit = sameRows(s, b)

  cases.foreach { case (name, relation, check) =>
    test(s"$name at ${c}x clone: $relation") {
      check(shipped(name, Sf), shipped(name, cloneSf))
    }
  }

  test(s"q78_incremental_neardup at ${c}x clone: the q39 pairs that touch the delta split") {
    import spark.implicits._
    val bucket = pmod(graft.functions.HashFunctions
      .stableHash64(concat(lit("split:"), $"doc_id".cast("string"))), lit(100L))
    val delta = Tables.load(spark, cloneSf, "documents").filter(bucket >= 90)
      .select($"doc_id").as[Long].collect().toSet
    val full = shipped("q39_neardup_lsh", cloneSf)
      .filter(r => delta(r.getLong(0)) || delta(r.getLong(1)))
    val got = shipped("q78_incremental_neardup", cloneSf)
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted ==
      full.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted)
    got.foreach(r => assert(r.getString(3) ==
      (if (delta(r.getLong(0)) && delta(r.getLong(1))) "new_new" else "new_old"), key(r)))
    assert(got.exists(r => fam(r.getLong(0)) == fam(r.getLong(1))), "no clone pair probed")
  }

  // ---- operator-level cases: relations on intermediate results ----

  /** `df` repeated `copies` times with `idCols` offset per copy — the
    * in-memory form of the clone policy, for a policy `cloneDir` does not
    * write.
    */
  private def repeat(df: DataFrame, copies: Int, idCols: String*): DataFrame =
    (0 until copies).map(i => idCols.foldLeft(df)((d, k) =>
      d.withColumn(k, col(k) + lit(i * o)))).reduce(_ unionByName _)

  test("q143 kNN purity at 4x: each clone family is one pure 4-clique plus singletons") {
    // at c ≥ 4 clone pairs (cos4 = 10000) fill every top-3 list, so the
    // mutual edges form one 4-clique on each family's lowest ids and no
    // cluster crosses families (needs no exact-duplicate 1× vectors)
    val emb = Tables.load(spark, Sf, "embeddings")
    val k = 4
    val got = SparkEntry.knnClusterPurity(repeat(emb, k, "vec_id")).collect()
    assert(got.length == (k - 3) * emb.count())
    assert(got.forall(r => r.getDouble(4) == 1.0), "an impure clone cluster")
  }

  test(s"q176 refresh over ${c} exact event copies: counts ×c, HLL estimate unchanged") {
    // the same users repeated: the register max-merge is idempotent, so
    // the estimate is bit-identical while counts and sums scale
    val ev = Tables.load(spark, Sf, "events")
    def run(df: DataFrame) = SparkEntry.incrementalDailyAgg(df).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    val base = run(ev)
    assert(run(repeat(ev, c)) == base.map { case (k, (n, sv, est)) => k -> (c * n, c * sv, est) })
  }

  test(s"q237 calibration over ${c} copies with user ids offset: bin counts ×c, means and ECE unchanged") {
    // scores hash the event id, so the copies keep their event ids here
    val ev = Tables.load(spark, Sf, "events")
    val base = graft.operators.EvalMetrics.calibration(ev).collect()
    val got = graft.operators.EvalMetrics.calibration(repeat(ev, c, "user_id")).collect()
    assert(got.map(key).sorted.toSeq == base.map(r => Seq(r.getLong(0), c * r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4)).mkString("|")).sorted.toSeq)
  }

  test(s"q193 boilerplate at ${c}x docs, every source ≥ 101 docs: same templates, removals ×c") {
    // with ≥ 101 docs per source the 1% frequency floor binds at 1× and
    // at c× alike, so the template set is copy-invariant (sf0.001's 20
    // sources of ~25 docs are regrouped into 4)
    val docs = Tables.load(spark, Sf, "documents")
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(4L)).cast("string")))
    assert(docs.groupBy("source").count().collect().forall(_.getLong(1) >= 101))
    val base = SparkEntry.boilerplateStrip(docs).collect()
    val got = SparkEntry.boilerplateStrip(repeat(docs, c, "doc_id")).collect()
    assert(got.map(key).sorted.toSeq == base.map(r => Seq(r.get(0), r.getLong(1),
      c * r.getLong(2), c * r.getLong(3), c * r.getLong(4)).mkString("|")).sorted.toSeq)
  }

  test(s"q170 k-core of the ${c}x clone graph: the whole graph, detected after one peel") {
    // every blow-up degree (c−1) + c·d ≥ 2, so the 2-core keeps every node
    // with its full degree, and the peel must stop at its no-op round
    import spark.implicits._
    val pairs = graft.operators.Dedup.nearDupPairs(
        Tables.load(spark, cloneSf, "documents"), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
      .localCheckpoint()
    val (core, peels) = graft.operators.GraphMetrics.kCoreWithPeels(
      pairs, "id_a", "id_b", k = 2, rounds = 8)
    assert(peels == 1)
    assert(core.count() == c * nDocs)
    assert(core.agg(sum($"core_degree")).as[Long].head() == 2 * pairs.count())
  }

  test(s"q201 personalized PageRank at ${c}x clone, every copy of the seeds: clones share one rank, families complete") {
    import spark.implicits._
    val pairs = graft.operators.Dedup.nearDupPairs(
      Tables.load(spark, cloneSf, "documents"), "doc_id", "text",
      numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
    val seeds = (0 until c).flatMap(i => Seq(i * o, 7L + i * o))
    val fams = graft.operators.PageRank.personalizedRanks(pairs, "id_a", "id_b", seeds, iters = 3)
      .filter($"rank_u" > 0)
      .groupBy(pmod($"id", lit(o)).as("fid"))
      .agg(count(lit(1)).as("n"), countDistinct($"rank_u").as("nr"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fams.contains(0L) && fams.contains(7L))
    fams.foreach { case (f, nr) => assert(nr == ((c.toLong, 1L)), s"family $f: $nr") }
  }

  test(s"q272 winnowing at ${c}x clone, df cap ×c: pairs c²·P + C(c,2)·D, clones share every rare fingerprint") {
    import spark.implicits._
    // k = 7 keeps a rare fingerprint tail on this corpus (D docs clear
    // minShared on rare fingerprints alone)
    def fps(dir: String) = graft.operators.Winnowing.fingerprints(
      Tables.load(spark, dir, "documents"), "doc_id", "text", k = 7, w = 4)
    val fb = fps(Sf).localCheckpoint()
    val rare = fb.join(fb.groupBy($"fp").agg(count(lit(1)).as("df"))
        .filter($"df" <= 16L), Seq("fp"))
      .groupBy($"id").agg(count(lit(1)).as("nf")).filter($"nf" >= 8L)
      .as[(Long, Long)].collect().toMap
    val p = graft.operators.Winnowing.overlapPairs(fb, minShared = 8L, maxDf = 16L).count()
    val got = graft.operators.Winnowing
      .overlapPairs(fps(cloneSf), minShared = 8L, maxDf = 16L * c).collect()
    assert(rare.nonEmpty)
    assert(got.length == c * c * p + pairsOfClones * rare.size)
    got.filter(r => fam(r.getLong(0)) == fam(r.getLong(1))).foreach(r =>
      assert(r.getLong(2) == rare(fam(r.getLong(0))), key(r)))
  }
}
