package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-pipeline-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  import scala.jdk.CollectionConverters._

  // ------------------------------------------------------------- lang id

  test("langId on real-language samples") {
    assert(TextUtil.langId("The quick brown fox jumps over the lazy dog and it was not the end of this") == "en")
    assert(TextUtil.langId("Der schnelle braune Fuchs springt über den faulen Hund und das ist nicht das Ende") == "de")
    assert(TextUtil.langId("Le renard brun rapide saute par-dessus le chien paresseux et ce n'est pas la fin de la journée") == "fr")
    assert(TextUtil.langId("El rápido zorro marrón salta sobre el perro perezoso y no es el final de la semana para los niños") == "es")
    assert(TextUtil.langId("这是一个中文句子，用来测试语言识别功能。") == "zh")
    assert(TextUtil.langId("Это русское предложение для проверки определения языка") == "ru")
    assert(TextUtil.langId("これはひらがなとカタカナのテストです") == "ja")
    assert(TextUtil.langId("Il gatto dormiva sul divano con il sole che entrava dalla finestra e non si muoveva") == "it")
    assert(TextUtil.langId("O cachorro correu para o parque com as crianças e não queria mais voltar para casa") == "pt")
    assert(TextUtil.langId("De kat zat op de vensterbank en keek naar de vogels in de tuin met veel aandacht") == "nl")
    assert(TextUtil.langId("한국어 문장을 언어 감지 기능으로 테스트합니다") == "ko")
    assert(TextUtil.langId("هذه جملة باللغة العربية لاختبار تحديد اللغة") == "ar")
    assert(TextUtil.langId("यह भाषा पहचान के परीक्षण के लिए एक हिन्दी वाक्य है") == "hi")
    assert(TextUtil.langId("") == "und")
    assert(TextUtil.langId("12345 67890 !!!") == "und")
    assert(TextUtil.langId("zzz qqq xxx yyy www") == "und") // Latin, no stopword hits
  }

  test("langId script-threshold boundaries (the q55 constructions)") {
    // ja wins iff kana*5 > letters — i.e. 4·kana > han
    assert(TextUtil.langId("あ" + "漢" * 3) == "ja") // 5 > 4
    assert(TextUtil.langId("あ" + "漢" * 4) == "zh") // 5 = 5 → han rule: 8 > 5
    // cyr/arab need strict density > 1/2; below it the Latin voting runs
    // (and finds no stopwords here)
    assert(TextUtil.langId("д" * 3 + "x" * 2) == "ru") // 6 > 5
    assert(TextUtil.langId("д" * 2 + "x" * 2) == "und") // 4 = 4
    assert(TextUtil.langId("ع" * 3 + " " + "b" * 2) == "ar")
    assert(TextUtil.langId("ع" * 2 + " " + "b" * 2) == "und")
    assert(TextUtil.langId("한" * 2 + "x") == "ko") // 4 > 3
    assert(TextUtil.langId("द" * 2 + "x") == "hi")
    // the 4096 cap: a long ASCII prefix hides a non-Latin tail
    assert(TextUtil.langId("the of and to in is that for it " * 200 + "漢" * 5000) == "en")
  }

  test("simhash: near-identical texts have small hamming distance") {
    val a = TextUtil.simhash64("the quick brown fox jumps over the lazy dog near the river bank today")
    val b = TextUtil.simhash64("the quick brown fox jumps over the lazy dog near the river bank tonight")
    val c = TextUtil.simhash64("completely different subject matter about databases and query optimization")
    assert(TextUtil.hamming64(a, b) < 12)
    assert(TextUtil.hamming64(a, c) > TextUtil.hamming64(a, b))
  }

  test("minhash: jaccard estimate tracks true overlap") {
    val t1 = (1 to 60).map(i => s"tok$i").mkString(" ")
    val t2 = (1 to 60).map(i => if (i <= 54) s"tok$i" else s"other$i").mkString(" ") // ~90% shared
    val t3 = (1 to 60).map(i => s"unrelated$i").mkString(" ")
    val s1 = TextUtil.minhash(t1, 128, 3)
    val s2 = TextUtil.minhash(t2, 128, 3)
    val s3 = TextUtil.minhash(t3, 128, 3)
    def est(a: Array[Long], b: Array[Long]) = a.zip(b).count { case (x, y) => x == y } / 128.0
    assert(est(s1, s2) > 0.6)
    assert(est(s1, s3) < 0.1)
    // determinism
    assert(TextUtil.minhash(t1, 128, 3).sameElements(s1))
  }

  // --------------------------------------------------------------- dedup

  private def docs(rows: Seq[(Long, String)]) = {
    spark.createDataFrame(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
  }

  test("exact dedup keeps lowest id per content") {
    val df = docs(Seq(1L -> "aaa bbb", 2L -> "ccc ddd", 3L -> "aaa bbb", 4L -> "eee"))
    val kept = Dedup.dropExactDuplicates(df, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L, 4L))
    val groups = Dedup.exactDuplicateGroups(df, "text", "doc_id")
      .filter(col("dup_count") > 1).collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("keeper_id") == 1L)
  }

  test("dropExactDuplicates: no Window in the plan; equals the row_number formulation on spam clusters") {
    // adversarial spam shape: one template with 5000 exact copies (the
    // hot content key that would stall a Window's single reducer), plus
    // a unique tail
    val spam = (0 until 5000).map(i => (1000L + i) -> "BUY NOW template")
    val uniq = (0 until 500).map(i => i.toLong -> s"unique doc $i")
    val df = docs(spam ++ uniq)
    val kept = Dedup.dropExactDuplicates(df, "text", "doc_id")
    assert(!kept.queryExecution.executedPlan.toString.contains("Window"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val ref = df.withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    def rows(x: org.apache.spark.sql.DataFrame) =
      x.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(kept) == rows(ref))
    assert(rows(kept).size == 501) // 500 unique + 1 spam keeper
    assert(rows(kept).contains(1000L -> "BUY NOW template"))
  }

  test("dropExactDuplicates: null-text rows form one group, lowest id kept (no silent loss)") {
    // md5(null) is null — the semi-join must use null-safe equality or
    // every null-text row silently vanishes
    val df = docs(Seq(1L -> "hello", 2L -> null, 3L -> "hello", 4L -> null, 5L -> null, 6L -> "tail"))
    val kept = Dedup.dropExactDuplicates(df, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L, 6L)) // null group keeps doc 2, like the Window formulation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val ref = df.withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == ref.toSeq)
  }

  test("minhash LSH finds the planted near-duplicate pair") {
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val near = (1 to 80).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val far = (1 to 80).map(i => s"z$i").mkString(" ")
    val df = docs(Seq(10L -> base, 20L -> near, 30L -> far))
    val pairs = Dedup.minhashCandidatePairs(df, "text", "doc_id")
      .filter(col("est_jaccard") > 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((10L, 20L)))
  }

  test("simhash near-dup pairs finds planted pair") {
    val base = (1 to 100).map(i => s"w$i").mkString(" ")
    val near = (1 to 100).map(i => if (i == 50) "CHANGED" else s"w$i").mkString(" ")
    val far = (1 to 100).map(i => s"q$i").mkString(" ")
    val df = docs(Seq(1L -> base, 2L -> near, 3L -> far))
    val pairs = Dedup.simhashNearDupPairs(df, "text", "doc_id", maxHamming = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("composed near-dup pipeline: LSH candidates + exact jaccard verify") {
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val near = (1 to 80).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val far = (1 to 80).map(i => s"z$i").mkString(" ")
    val df = docs(Seq(10L -> base, 20L -> near, 30L -> far))
    val pairs = Dedup.nearDuplicatePairs(df, "text", "doc_id", threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet == Set((10L, 20L)))
    // exact jaccard of the planted pair: shingles differ in a 3-window
    assert(pairs((10L, 20L)) > 0.85 && pairs((10L, 20L)) < 1.0)
  }

  test("hot-bucket guard: template spam emits hub stars, cold buckets stay exact") {
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val near = (1 to 80).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val spamBody = (1 to 40).map(i => s"spam$i").mkString(" ")
    val rows = Seq(10L -> base, 20L -> near) ++
      (1000L until 1400L).map(i => i -> spamBody)
    val df = docs(rows)
    val guarded = Dedup.minhashCandidatePairs(df, "text", "doc_id",
        hotBucketBound = 64)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    // the 400-clone cluster is one bucket per band, occupancy 400 > 64:
    // exactly 399 hub-star pairs instead of 79,800 all-pairs — the work
    // (and output) bound the guard exists for
    val spamPairs = guarded.filter(_._1 >= 1000L).toSet
    assert(spamPairs == (1001L until 1400L).map(x => (1000L, x)).toSet,
      s"n=${spamPairs.size}")
    assert(guarded.length == spamPairs.size + 1)
    // cold buckets keep the exact path: the planted near-dup pair survives
    assert(guarded.contains((10L, 20L)))
    // and the unguarded default still emits the full clique shape
    val unguarded = Dedup.minhashCandidatePairs(
      docs(Seq(10L -> base, 20L -> near) ++ (2000L until 2020L).map(_ -> spamBody)),
      "text", "doc_id")
      .select("id_a", "id_b").collect()
    assert(unguarded.count(_.getLong(0) >= 2000L) == 20 * 19 / 2)
  }

  test("self-tuning hot-bucket bound: spam degrades linearly with NO knob set") {
    // realistic shape: spam buckets are a sliver of all buckets (0.05 %),
    // so the p99.9 occupancy stays at the natural ~1 and the derived bound
    // sits at the floor of 64 — far above every legitimate bucket, far
    // below the 400-clone spam bucket
    val normal = (0 until 2000).map(d =>
      d.toLong -> (1 to 40).map(i => s"d${d}w$i").mkString(" "))
    val near = Seq(5000L -> (1 to 40).map(i => s"d7w$i").mkString(" ")
      .replace("d7w20", "CHANGED"))
    val spamBody = (1 to 40).map(i => s"spam$i").mkString(" ")
    val spam = (10000L until 10400L).map(i => i -> spamBody)
    val auto = Dedup.minhashCandidatePairs(docs(normal ++ near ++ spam),
        "text", "doc_id") // DEFAULT — no bound argument anywhere
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val spamPairs = auto.filter(_._1 >= 10000L).toSet
    assert(spamPairs == (10001L until 10400L).map(x => (10000L, x)).toSet,
      s"n=${spamPairs.size}")
    // the planted cold near-dup pair is still found by the exact path
    assert(auto.contains((7L, 5000L)))
  }

  test("auto bound on a spam-free corpus: output equals the unguarded plan") {
    val rows = (0 until 60).map(d =>
      d.toLong -> (1 to 50).map(i => s"c${d}x$i").mkString(" ")) ++
      Seq(900L -> (1 to 50).map(i => s"c3x$i").mkString(" ").replace("c3x25", "DIFF"))
    val auto = Dedup.nearDuplicatePairs(docs(rows), "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unguarded = Dedup.nearDuplicatePairs(docs(rows), "text", "doc_id",
        threshold = 0.5, hotBucketBound = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == unguarded && auto.contains((3L, 900L)))
  }

  test("hot-bucket guard on embedding LSH: spam cluster bounded, planted pair kept") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val template = emb.filter(col("vec_id") === 1)
    val spam = spark.range(2000, 2300).select(col("id").as("vec_id"))
      .crossJoin(template.select(col("embedding")))
    val pairs = Similarity.embeddingNearDupPairs(
        emb.unionByName(planted).unionByName(spam),
        "vec_id", "embedding", minCosine = 0.9, hotBucketBound = 64)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    // identical-direction spam: every band agrees → one hot bucket; the
    // guard emits 300 hub stars (hub = vec_id 1 itself is in the bucket)
    val spamSet = pairs.filter(p => p._2 >= 2000 && p._2 < 2300).toSet
    assert(spamSet == (2000L until 2300L).map(x => (1L, x)).toSet, s"n=${spamSet.size}")
    // the planted ×2 pair lives in a cold bucket and is still found exactly
    assert(pairs.contains((0L, 100000L)))
  }

  test("hot-bucket guard on the incremental index path: hub flags survive") {
    val spamBody = (1 to 40).map(i => s"tpl$i").mkString(" ")
    val base = (1 to 80).map(i => s"u$i").mkString(" ")
    val corpus = docs(Seq(5L -> base) ++ (100L until 300L).map(_ -> spamBody))
    val idxPath = graft.TestDirs.fresh("graft_minhash_idx_hot")
    Dedup.writeMinhashIndex(corpus, "text", "doc_id", idxPath)
    // batch: one spam copy + one near-dup of the cold corpus doc
    val near = (1 to 80).map(i => if (i == 40) "CHANGED" else s"u$i").mkString(" ")
    val batch = docs(Seq(1000L -> spamBody, 1001L -> near))
    val flags = Dedup.minhashCandidatePairsAgainstIndex(spark, idxPath, batch,
        "text", "doc_id", hotBucketBound = 64)
      .filter(col("est_jaccard") >= 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the spam batch doc is flagged against the hot bucket's HUB only (one
    // pair, not 200); the cold near-dup is flagged by the exact path
    assert(flags == Set((100L, 1000L), (5L, 1001L)), flags.toString)
  }

  test("near-dup clusters: transitive chains collapse to the component minimum") {
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    def mut(changed: Set[Int]) =
      (1 to 80).map(i => if (changed(i)) s"X$i" else s"w$i").mkString(" ")
    // a ~ b (j .926) and b ~ c (j .857) but a !~ c (j .793 < τ): a chain —
    // keep-lowest pair semantics already drop b and c, the CLUSTER view
    // additionally labels all three with the component minimum
    val df = docs(Seq(10L -> base, 20L -> mut(Set(40)), 30L -> mut(Set(10, 20, 40)),
      40L -> (1 to 80).map(i => s"z$i").mkString(" ")))
    val cl = Dedup.nearDuplicateClusters(df, "text", "doc_id", threshold = 0.82)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 40L), cl.toString)
  }

  test("ngram jaccard exact") {
    val df = docs(Seq(1L -> "a b c d e", 2L -> "a b c d f", 3L -> "x y z w v"))
    val j = Dedup.ngramJaccard(df, "text", "doc_id", n = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // bigrams of 1: {ab,bc,cd,de}, of 2: {ab,bc,cd,df} → |∩|=3, |∪|=5
    assert(math.abs(j((1L, 2L)) - 0.6) < 1e-9)
    assert(j((1L, 3L)) == 0.0)
  }

  test("text metrics") {
    val df = docs(Seq(1L -> "Hello world, 42 things!", 2L -> ""))
    val r = df.select(
      Text.tokenCount(col("text")), Text.alphaRatio(col("text")),
      Text.digitRatio(col("text")), Text.punctRatio(col("text")),
      Text.qualityScore(col("text"))).collect()
    assert(r(0).getInt(0) == 4)
    assert(r(0).getDouble(1) > 0.5)
    assert(r(0).getDouble(2) > 0.0)
    assert(r(0).getDouble(3) > 0.0)
    assert(r(1).getInt(0) == 0)
  }

  test("token stats mirror split(trim, \\s+) limit -1 exactly at ws edges") {
    // adversarial leading/trailing/only non-space whitespace — the one-pass
    // kernel must reproduce Spark's split artifacts (leading AND trailing
    // empty fields) that the SQL form and the DuckDB oracles both keep
    val cases = Seq(1L -> "ab\n", 2L -> "\nab", 3L -> "\tab cd\n", 4L -> "\n",
      5L -> "  ab  ", 6L -> "ab cd", 7L -> " \t ab \n ", 8L -> "")
    val df = docs(cases)
    val got = df.select(col("doc_id"), Text.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sqlForm = df.select(col("doc_id"),
        when(length(trim(col("text"))) === 0, lit(0))
          .otherwise(size(split(trim(col("text")), "\\s+"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == sqlForm, s"got=$got sql=$sqlForm")
    assert(got(1L) == 2 && got(2L) == 2 && got(4L) == 2 && got(7L) == 3)
  }

  test("token stats == the SQL split form on random whitespace-heavy strings") {
    // seeded fuzz over an alphabet dense in whitespace variants (incl.
    // and \f, which only Java \s classes as whitespace) — the one-pass
    // kernel must agree with Spark's own split composition on every string
    val rnd = new scala.util.Random(99L)
    val alphabet = "ab c\td\nef\fg\r1!. "
    val cases = (0 until 400).map { i =>
      val n = rnd.nextInt(14)
      (i.toLong, (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val df = docs(cases)
    val sqlTok = when(length(trim(col("text"))) === 0, lit(0))
      .otherwise(size(split(trim(col("text")), "\\s+")))
    val rows = df.select(Text.tokenCount(col("text")).as("a"), sqlTok.as("b"),
      col("doc_id"), col("text")).collect()
    rows.foreach(r =>
      assert(r.getInt(0) == r.getInt(1),
        s"doc=${r.getLong(2)} [${r.getString(3).replace("\n", "\\n")}]"))
  }

  test("wordShingles keeps the split empty-field artifacts of the SQL form") {
    val cases = Seq(1L -> "a b c\n", 2L -> "\na b c", 3L -> " a b c ", 4L -> "a b c d")
    val df = docs(cases)
    val toks = df.select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val expect = toks.map { case (id, t) =>
      id -> t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
    }
    val got = df.select(col("doc_id"), Text.wordShingles(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got == expect, s"got=$got expect=$expect")
    // trailing '\n' produces shingle "b c " (trailing empty token joined)
    assert(got(1L).contains("b c "))
    assert(got(2L).contains(" a b"))
  }

  // ---------------------------------------------------------- similarity

  test("brute-force cosine top-k matches manual computation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
    val topk = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val got = topk.filter(col("query_id") === 0).orderBy(col("rank"))
      .select("neighbor_id", "sim").collect()
    assert(got.length == 5)
    // manual: compute cosine of vec 0 against all, in scala
    val all = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = all.find(_._1 == 0L).get._2.map(_.toDouble)
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expect = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v.map(_.toDouble))) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(got.map(_.getLong(0)).toSeq == expect.toSeq)
  }

  test("pq encode: codebook vectors encode to themselves; codes bounded") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", k = 16)
    val cbRows = cb.collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
    assert(cbRows.keySet == (0 until 16).toSet)
    val encoded = Similarity.pqEncode(emb, cb, "vec_id", "embedding", m = 4)
    val codes = encoded.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(cs => cs.length == 4 && cs.forall(c => c >= 0 && c < 16)))
    // a vector that IS a codebook entry has zero distance to itself in
    // every subspace -> its m codes reconstruct it exactly
    val cbIds = emb.join(cb, emb("embedding") === cb("codevec"))
      .select(col("vec_id"), col("code")).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(cbIds.length == 16)
    cbIds.foreach { case (vid, code) =>
      assert(codes(vid).forall(_ == code), s"vec $vid codes ${codes(vid)} != $code")
    }
  }

  test("pq ADC top-k correlates with exact neighbors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", k = 16)
    val encoded = Similarity.pqEncode(emb, cb, "vec_id", "embedding", m = 4)
    val adc = Similarity.pqTopKAdc(encoded, cb, queries, "vec_id", "embedding",
      m = 4, k = 10)
    // ranks are 1..10 per query, ascending distance, no self-matches
    val rows = adc.collect()
    assert(rows.length == 50)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to 10))
      assert(sorted.map(_.getDouble(2)).toSeq == sorted.map(_.getDouble(2)).sorted.toSeq)
    }
    // the ADC approximation must beat chance decisively: mean exact L2^2 of
    // the ADC-chosen 10 is below the corpus-wide mean for every query
    val all = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    def l2sq(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    byQ.foreach { case (qid, rs) =>
      val qv = all(qid)
      val chosen = rs.map(r => l2sq(qv, all(r.getLong(1)))).sum / rs.length
      val corpus = all.collect { case (id, v) if id != qid => l2sq(qv, v) }
      val mean = corpus.sum / corpus.size
      assert(chosen < mean, s"query $qid: ADC mean $chosen !< corpus mean $mean")
    }
  }

  test("pq index: append encodes with the stored codebook; indexed == direct") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (first, rest) = (emb.filter(col("vec_id") < 400), emb.filter(col("vec_id") >= 400))
    val path = java.nio.file.Files.createTempDirectory("graft_pq").toString + "/idx"
    Similarity.writePqIndex(first, "vec_id", "embedding", path, m = 4, k = 16)
    Similarity.appendPqIndex(spark, path, rest, "vec_id", "embedding")

    val queries = emb.filter(col("vec_id") < 3)
    val viaIndex = Similarity.pqTopKIndexed(spark, path, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // direct: same codebook (trained on `first` only), whole corpus encoded
    val cb = spark.read.parquet(s"$path/codebook")
    val direct = Similarity.pqTopKAdc(
        Similarity.pqEncode(emb, cb, "vec_id", "embedding", 4),
        cb, queries, "vec_id", "embedding", m = 4, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(viaIndex == direct && viaIndex.nonEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(path).getParentFile)
  }

  test("ivf-pq index: full probe equals flat ADC; partial probe is partition-pruned") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString + "/idx"
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", path, nLists = 8, m = 4, k = 16)
    // probing EVERY list removes the routing approximation: the result must
    // equal the flat (un-partitioned) ADC scan against the same codebook
    val full = Similarity.ivfPqTopKIndexed(spark, path, queries, "vec_id", "embedding",
        k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val cb = spark.read.parquet(s"$path/codebook")
    val flat = Similarity.pqTopKAdc(
        Similarity.pqEncode(emb, cb, "vec_id", "embedding", 4),
        cb, queries, "vec_id", "embedding", m = 4, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(full == flat && full.nonEmpty)
    // partial probe prunes the codes scan to the probed list directories
    val partial = Similarity.ivfPqTopKIndexed(spark, path, queries, "vec_id", "embedding",
      k = 5, nProbe = 3)
    val plan = partial.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"), plan.take(1500))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(path).getParentFile)
  }

  test("ivf-pq append: stored centroids + codebook; union queries equal direct") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (first, rest) = (emb.filter(col("vec_id") < 400), emb.filter(col("vec_id") >= 400))
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString + "/idx"
    Similarity.writeIvfPqIndex(first, "vec_id", "embedding", path, nLists = 8, m = 4, k = 16)
    Similarity.appendIvfPqIndex(spark, path, rest, "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
    val viaIndex = Similarity.ivfPqTopKIndexed(spark, path, queries, "vec_id", "embedding",
        k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // direct: codebook trained on `first` only, whole union encoded with it
    val cb = spark.read.parquet(s"$path/codebook")
    val direct = Similarity.pqTopKAdc(
        Similarity.pqEncode(emb, cb, "vec_id", "embedding", 4),
        cb, queries, "vec_id", "embedding", m = 4, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(viaIndex == direct && viaIndex.nonEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(path).getParentFile)
  }

  test("ivf-pq refine: full probe + full refine is EXACT; candidate read is pruned") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_ref").toString + "/idx"
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", path, nLists = 8, m = 4, k = 16)
    // with every list probed and refineK covering the whole corpus the
    // pipeline degenerates to exact search: candidates = all pairs, refine
    // re-ranks them in full precision -> identical to brute force
    val n = emb.count().toInt
    val refined = Similarity.ivfPqTopKRefined(spark, path, emb, queries,
        "vec_id", "embedding", k = 5, nProbe = 8, refineK = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(refined == exact && refined.nonEmpty)
    // at serving shape (small refineK) the raw-vector read prunes to the
    // candidate ids: the In filter reaches the corpus parquet scan
    val cand = Similarity.ivfPqTopKIndexed(spark, path, queries, "vec_id", "embedding",
      k = 8, nProbe = 3)
    val served = Similarity.refineTopK(emb, queries, cand, "vec_id", "embedding", 5)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("vec_id"), plan.take(2000))
    val rows = served.collect()
    val candSet = cand.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.nonEmpty && rows.forall(r => candSet((r.getLong(0), r.getLong(1)))))
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(path).getParentFile)
  }

  test("ivf top-k recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5, nLists = 8, nProbe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing half the lists should recover a solid share of the exact set
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"ivf recall too low: $recall")
    assert(ivf.forall { case (q, n) => q != n })
  }

  test("ivf assignment is a per-row map over broadcast centroids — corpus never shuffles") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (assigned, centroids) = Similarity.ivfAssign(emb, "vec_id", "embedding", nLists = 8)
    val plan = assigned.queryExecution.executedPlan.toString
    // no grouped re-rank machinery at all: the argmax runs inside a
    // projection over a broadcast one-row centroid array
    assert(!plan.contains("Window"), plan.take(2500))
    assert(!plan.contains("hashpartitioning(neighbor_id"), plan.take(2500))
    assert(!plan.matches("(?s).*Sort \\[neighbor_id.*"), plan.take(2500))
    // every corpus vector is assigned exactly once, to a real centroid
    assert(assigned.count() == emb.count())
    val cids = centroids.select("centroid_id").collect().map(_.getLong(0)).toSet
    assert(assigned.select("list_id").distinct().collect().map(_.getLong(0)).toSet.subsetOf(cids))
    // and the assignment is the true per-vector argmax (checked directly)
    val direct = emb.crossJoin(centroids)
      .select(col("vec_id"), col("centroid_id"),
        Similarity.cosine(col("embedding"), col("cvec")).as("csim"))
      .collect().groupBy(_.getLong(0)).map { case (v, rows) =>
        v -> rows.filter(!_.isNullAt(2))
          .maxBy(r => (r.getDouble(2), -r.getLong(1)))(
            Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)).getLong(1)
      }
    val got = assigned.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == direct)
  }

  test("vec mean aggregator: partial/merge across partitions equals exact mean") {
    import spark.implicits._
    // 4 partitions force real merge() calls; values chosen so the exact
    // mean is representable and order-independent
    val rows = (1 to 100).map(i => (i % 3L, Seq(i.toDouble, 2.0 * i, -i.toDouble)))
    val df = spark.createDataset(rows).repartition(4).toDF("g", "v")
    val got = df.groupBy("g").agg(Clustering.vecMeanUdaf(col("v")).as("m"))
      .as[(Long, Seq[Double])].collect().toMap
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val vs = rs.map(_._2)
      g -> Seq(0, 1, 2).map(j => vs.map(_(j)).sum / vs.size)
    }
    assert(got.keySet == want.keySet)
    for (g <- got.keySet; j <- 0 to 2)
      assert(math.abs(got(g)(j) - want(g)(j)) < 1e-9, s"g=$g j=$j")
    // all-null group → null mean; mismatched lengths ignored
    val weird = Seq((0L, null.asInstanceOf[Seq[Double]]),
      (1L, Seq(1.0, 2.0)), (1L, Seq(9.0))).toDF("g", "v")
    val w = weird.groupBy("g").agg(Clustering.vecMeanUdaf(col("v")).as("m"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(w(0L).isNullAt(1))
    assert(w(1L).getSeq[Double](1) == Seq(1.0, 2.0))
  }

  test("kmeans recovers planted separable clusters; empty clusters carry over") {
    import spark.implicits._
    // three tight clusters around orthogonal directions — any sane run
    // must separate them perfectly after 3 rounds
    val base = Seq(Seq(10.0, 0.0, 0.0), Seq(0.0, 10.0, 0.0), Seq(0.0, 0.0, 10.0))
    val pts = for (c <- 0 to 2; j <- 0 to 19) yield
      (c * 100L + j, base(c).zipWithIndex.map { case (x, i) =>
        (x + ((j * 7 + i) % 5) * 0.01).toFloat })
    val df = spark.createDataset(pts).toDF("vec_id", "embedding")
    val cents = Clustering.kmeansFit(df, "vec_id", "embedding", 3, 3)
    assert(cents.count() == 3)
    val assigned = Clustering.kmeansAssign(df, cents, "vec_id", "embedding")
      .select("neighbor_id", "list_id")
      .as[(Long, Long)].collect()
    // each planted cluster maps to exactly one list, lists are distinct
    val byTruth = assigned.groupBy(_._1 / 100).view.mapValues(_.map(_._2).toSet).toMap
    assert(byTruth.values.forall(_.size == 1), byTruth.toString)
    assert(byTruth.values.flatten.toSet.size == 3)
    // iters=0 returns the init sample itself (k rows, ids from the corpus)
    val init = Clustering.kmeansFit(df, "vec_id", "embedding", 5, 0)
    assert(init.count() == 5)
    // k > distinct directions: surplus centroids go empty and carry their
    // previous (init) vector — fit still returns k rows, no nulls
    val wide = Clustering.kmeansFit(df, "vec_id", "embedding", 30, 2)
    assert(wide.count() == 30)
    assert(wide.where(col("cvec").isNull).count() == 0)
  }

  test("kmeans-trained IVF: lists balance at least as well as hash-sample init") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (hashAssigned, _) = Similarity.ivfAssign(emb, "vec_id", "embedding", nLists = 8)
    val (kmAssigned, kmCents) =
      Clustering.ivfFitKmeans(emb, "vec_id", "embedding", nLists = 8, iters = 3)
    def maxList(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy("list_id").count().agg(max("count")).head().getLong(0)
    // every vector still assigned exactly once
    assert(kmAssigned.count() == emb.count())
    // trained routing never degrades the hottest list by more than noise
    assert(maxList(kmAssigned) <= (maxList(hashAssigned) * 1.25).toLong + 1,
      s"kmeans ${maxList(kmAssigned)} vs hash ${maxList(hashAssigned)}")
    // trained centroids drive the existing route path (queries cast to
    // double to match centroid precision) and reach every probed list
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val routed = Similarity.ivfRoute(q, kmCents, "vec_id", "embedding", nProbe = 2)
    assert(routed.count() == 3 * 2)
  }

  test("embedding near-dup pairs: full recall on planted duplicates, exactly-once, no distinct") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // plant exact-direction duplicates: ×2 is IEEE-exact, so every hyperplane
    // dot product scales exactly → identical signatures in all bands
    val planted = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val pairs = Similarity.embeddingNearDupPairs(emb.unionByName(planted),
      "vec_id", "embedding", minCosine = 0.9)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // recall 1 on the planted pairs, nothing else qualifies at 0.9
    // (max natural pairwise cosine in the fixture ≈ 0.48)
    assert(got.toSet == (0L until 10L).map(i => (i, i + 100000)).toSet)
    // exactly-once emission — no duplicates even when several bands agree
    assert(got.length == got.toSet.size)
    // first-shared-band emission replaced the distinct(): no Deduplicate node
    assert(!pairs.queryExecution.optimizedPlan.toString.contains("Deduplicate"))
  }

  test("persisted IVF index: partition-pruned probe matches in-memory ivfTopK") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val path = graft.TestDirs.fresh("graft_ivf_index")
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, nLists = 8)
    val indexed = Similarity.ivfTopKIndexed(spark, path, queries, "vec_id", "embedding",
      k = 5, nProbe = 4)
    val inMemory = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nLists = 8, nProbe = 4)
    val a = indexed.select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = inMemory.select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == b && a.nonEmpty)
    // the probed scan is partition-pruned to the probed list directories
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"), plan.take(1500))
  }

  test("ivfRoute is exchange-free and matches the window-ranked probe order") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val (_, centroids) = Similarity.ivfAssign(emb, "vec_id", "embedding", nLists = 8)
    val routed = Similarity.ivfRoute(queries, centroids, "vec_id", "embedding", nProbe = 3)
    // the whole ANN path is now Window-free: routing ranks per-row over the
    // broadcast centroid array (array_sort + slice), no query_id exchange
    val plan = routed.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2500))
    assert(!plan.contains("hashpartitioning(query_id"), plan.take(2500))
    // equivalence vs the window formulation it replaced
    import org.apache.spark.sql.expressions.Window
    val reference = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("centroid_id"),
        coalesce(Similarity.cosine(col("qvec"), col("cvec")), lit(-2.0)).as("csim"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("centroid_id").asc)))
      .filter(col("r") <= 3)
      .select(col("query_id"), col("centroid_id").as("list_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = routed.select("query_id", "list_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == reference && got.nonEmpty)
  }

  test("incremental IVF index: two appends == direct top-k over the union") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 3 === 0)
    val batch1 = emb.filter(col("vec_id") % 3 === 1)
    val batch2 = emb.filter(col("vec_id") % 3 === 2)
    val path = graft.TestDirs.fresh("graft_ivf_index_incr")
    Similarity.writeIvfIndex(base, "vec_id", "embedding", path, nLists = 8)
    Similarity.appendIvfIndex(spark, path, batch1, "vec_id", "embedding")
    Similarity.appendIvfIndex(spark, path, batch2, "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val indexed = Similarity.ivfTopKIndexed(spark, path, queries, "vec_id", "embedding",
        k = 5, nProbe = 4)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // equivalence target keeps the STORED centroids (append never re-routes):
    // direct assignment+probe of the full union against the index's centroids
    val centroids = spark.read.parquet(s"$path/centroids")
    val direct = Similarity.ivfTopKWith(emb, centroids, queries, "vec_id", "embedding",
        k = 5, nProbe = 4)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(indexed == direct && indexed.nonEmpty)
  }

  test("lsh top-k returns plausible neighbors with exact rerank") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 2)
    val r = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 3, nBits = 4).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Int]("rank") <= 3))
  }

  // -------------------------------------------------------------- events

  test("bounded top-k aggregate == window rank on random data (nulls, strings, mixed dirs)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (seed <- Seq(11L, 42L)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 500).map { i =>
        val grp = rnd.nextInt(7)
        val v: java.lang.Double = if (rnd.nextInt(10) == 0) null else rnd.nextInt(50).toDouble
        val s = s"s${rnd.nextInt(20)}"
        (i.toLong, grp, v, s)
      }
      val df = rows.toDF("id", "grp", "v", "s").repartition(5)
      val got = GroupedTopK.topK(df, Seq("grp"),
          Seq(("v", false), ("s", true), ("id", true)), k = 4, rankCol = "rk")
        .select("grp", "id", "rk")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
      val w = Window.partitionBy(col("grp"))
        .orderBy(col("v").desc, col("s").asc, col("id").asc)
      val expected = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
        .select("grp", "id", "rk")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("approx_count_distinct tracks exact distinct within the configured rsd") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val r = docs.agg(
      count_distinct(col("c_custkey")).as("exact"),
      approx_count_distinct(col("c_custkey"), 0.02).as("approx")).head()
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"$approx vs $exact")
  }

  test("approx grouped percentiles track the exact aggregate within rank tolerance") {
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select((col("doc_id") % 4).as("grp"),
        Text.tokenCount(col("text")).cast("double").as("toks"))
    val pcts = Seq(0.1, 0.5, 0.9)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val exact = toMap(Stats.groupedPercentiles(docsDf, Seq("grp"), "toks", pcts))
    val approx = toMap(Stats.groupedPercentilesApprox(docsDf, Seq("grp"), "toks", pcts))
    assert(exact.keySet == approx.keySet && exact.size == 12)
    // high accuracy on a small fixture: the sketch answer is a real value
    // from the distribution near the exact interpolated one
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v) <= math.max(4.0, v * 0.1), s"$k exact=$v approx=${approx(k)}")
    }
    // the approx plan must carry a partial aggregation (map-side sketch),
    // never a per-group value buffer on one reducer only
    val plan = Stats.groupedPercentilesApprox(docsDf, Seq("grp"), "toks", pcts)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_approx_percentile") || plan.contains("approx_percentile"),
      plan.take(2000))
  }

  test("hash split: deterministic, complete, near-nominal fractions") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val splits = Seq(("train", 8000), ("val", 1000), ("test", 1000))
    val a = Sampling.hashSplit(docs, "doc_id", splits)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // stable across a second evaluation with a different partition layout
    val b = Sampling.hashSplit(docs.repartition(7), "doc_id", splits)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    assert(a.values.forall(Set("train", "val", "test")))
    val trainFrac = a.values.count(_ == "train").toDouble / a.size
    assert(trainFrac > 0.7 && trainFrac < 0.9, trainFrac)
  }

  test("decontamination flags docs embedding an eval 8-gram, counts distinct shared grams") {
    import spark.implicits._
    val evalSet = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words alpha beta gamma delta epsilon zeta eta theta suffix"), // embeds it (3 shifted 8-grams)
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),                      // 7-gram overlap only → clean
      (3L, "completely different text with no overlap at all whatsoever here")
    ).toDF("doc_id", "text")
    val got = Decontaminate.flags(corpus, evalSet, "text", "doc_id", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L)) // only the eval 8-gram itself is shared
  }

  test("pii scrub is idempotent and placeholders never re-match") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val texts = (0 until 200).map { i =>
      val bits = Seq(s"user$i@ex${i % 7}.org", s"+1-555-${1000 + i}", "plain words",
        "<EMAIL>", "a@b.c@d.e", s"x${i}y")
      rnd.shuffle(bits).take(1 + rnd.nextInt(5)).mkString(" ")
    }
    val once = texts.toDF("t").select(Text.scrubPii(col("t")).as("s"))
    val twice = once.select(Text.scrubPii(col("s"))).collect().map(_.getString(0))
    assert(once.collect().map(_.getString(0)).toSeq == twice.toSeq)
  }

  test("stratified sample monotonicity: higher rate is a superset") {
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val lo = Sampling.stratifiedSampleHash(cust, "c_custkey", "c_mktsegment",
      Seq("AUTOMOBILE" -> 1000), 0).select("c_custkey").collect().map(_.getLong(0)).toSet
    val hi = Sampling.stratifiedSampleHash(cust, "c_custkey", "c_mktsegment",
      Seq("AUTOMOBILE" -> 5000), 0).select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi) && lo.size < hi.size)
    // rate 10000 keeps the whole stratum
    val all = Sampling.stratifiedSampleHash(cust, "c_custkey", "c_mktsegment",
      Seq("AUTOMOBILE" -> 10000), 0).count()
    assert(all == cust.filter(col("c_mktsegment") === "AUTOMOBILE").count())
  }

  test("temperature mix: alpha=1 keeps natural proportions, alpha=0.5 flattens") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // alpha=1: every domain's rate is exactly targetBp, so the result
    // equals the plain (domain-blind) hash filter
    val natural = Sampling.temperatureSampleHash(docs, "doc_id", "lang", 4000, alpha = 1.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val blind = docs.filter(Sampling.hashBucket(col("doc_id")) < 4000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(natural == blind && natural.nonEmpty)

    // alpha=0.5: keep RATE must be strictly higher for the rarest domain
    // than for the dominant one (that's the flattening)
    val n = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Sampling.temperatureSampleHash(docs, "doc_id", "lang", 4000, alpha = 0.5)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dominant = n.maxBy(_._2)._1
    val rare = n.minBy(_._2)._1
    assert(kept(rare).toDouble / n(rare) > kept(dominant).toDouble / n(dominant))
  }

  test("chunkByWords: boundaries, overlap, tail, and reconstruction") {
    import spark.implicits._
    val words = (1 to 12).map("w" + _)
    val df = Seq(
      (1L, words.mkString(" ")),        // 12 words, window 5 stride 3 -> 4 chunks
      (2L, "  a   b  "),                // whitespace edges -> 2 words, 1 chunk
      (3L, "   "),                      // no words -> no chunks
      (4L, "solo")                      // 1 word, 1 chunk
    ).toDF("doc_id", "text")
    val got = Text.chunkByWords(df, "doc_id", "text", window = 5, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: chunks start at words 0,3,6,9 (stride 3), window 5, tail kept
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2, 3))
    assert(d1(0)._3 == "w1 w2 w3 w4 w5" && d1(0)._4 == 5)
    assert(d1(1)._3 == "w4 w5 w6 w7 w8" && d1(1)._4 == 5)
    assert(d1(2)._3 == "w7 w8 w9 w10 w11" && d1(2)._4 == 5)
    assert(d1(3)._3 == "w10 w11 w12" && d1(3)._4 == 3)
    // every word index is covered by some chunk; consecutive chunks share
    // exactly `overlap` words
    assert(d1.map(_._3.split(" ").length).sum == 5 + 5 + 5 + 3)
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0, "a b", 2)))
    assert(!got.exists(_._1 == 3L))
    assert(got.filter(_._1 == 4L).toSeq == Seq((4L, 0, "solo", 1)))
  }

  test("repetition score stays within [0,1] on random token streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val docs = (0 until 300).map(i =>
      (i.toLong, Seq.fill(rnd.nextInt(30))("tok" + rnd.nextInt(5)).mkString(" ")))
    val scores = Text.repetitionScore(docs.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(_.getDouble(1))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("bpeish token count: contractions and decimals split, whitespace is free") {
    import spark.implicits._
    val got = Seq("don't", "3.14", "hello world", "", "  ", "a-b c")
      .toDF("t").select(Text.bpeishTokenCount(col("t"))).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(3L /*don ' t*/, 3L /*3 . 14*/, 2L, 0L, 0L, 4L /*a - b c*/))
  }

  test("pii scrub: emails and phones redact, plain text untouched") {
    import spark.implicits._
    val df = Seq(
      "reach me at jane.doe+spam@sub.example.co.uk or +44-201-5550",
      "two mails a@b.io c.d@e.org and no phone",
      "nothing sensitive here",
      "not-an-email @ example.com and +1-55-123 too short"
    ).toDF("t")
    val got = df.select(Text.scrubPii(col("t"))).collect().map(_.getString(0))
    assert(got(0) == "reach me at <EMAIL> or <PHONE>")
    assert(got(1) == "two mails <EMAIL> <EMAIL> and no phone")
    assert(got(2) == "nothing sensitive here")
    assert(got(3) == "not-an-email @ example.com and +1-55-123 too short")
  }

  test("stripHtml: blocks, tags, entities, whitespace collapse") {
    import spark.implicits._
    val df = Seq(
      // script body with '<' and quotes; style with braces; comment
      "<html><head><STYLE media=\"all\">p { x: 1 < 2; }</STYLE></head>" +
        "<body><h1>T</h1><!-- note\nspans lines --><p>hello\n\n world</p>" +
        "<SCRIPT type=\"text/js\">if (a < b) { f(\"</p>\"); }</SCRIPT></body></html>",
      // entities, &amp; decoded last so double-escapes drop one level
      "<p>A &amp;amp; B &lt;tag&gt; &quot;q&quot; it&#39;s&nbsp;here</p>",
      // unclosed/bare text, attributes with '>'-free urls
      "plain   text <a href=\"http://x/y?a=1\">link</a> tail",
      ""
    ).toDF("t")
    val got = df.select(Text.stripHtml(col("t"))).collect().map(_.getString(0))
    assert(got(0) == "T hello world")
    assert(got(1) == "A &amp; B <tag> \"q\" it's here")
    assert(got(2) == "plain text link tail")
    assert(got(3) == "")
  }

  test("nfcNormalize: composes, preserves compat ligatures, equalizes dedup keys") {
    import spark.implicits._
    val df = Seq(
      "Cafe\u0301",    // e + combining acute → é
      "Caf\u00E9",     // already composed — idempotent
      "A\u030A",       // A + combining ring → Å
      "\uFB01ne",      // fi ligature: NFC preserves (NFKC would split)
      ""
    ).toDF("t")
    val got = df.select(Text.nfcNormalize(col("t"))).collect().map(_.getString(0))
    assert(got(0) == "Caf\u00E9" && got(1) == "Caf\u00E9")
    assert(got(2) == "\u00C5")
    assert(got(3) == "\uFB01ne")
    assert(got(4) == "")
    // the dedup motivation: composition variants hash to ONE content key
    // after normalization, two without
    val variants = Seq("Cafe\u0301 menu", "Caf\u00E9 menu").toDF("text")
    val rawKeys = variants.select(Dedup.contentKey(col("text"))).distinct().count()
    val nfcKeys = variants.select(Dedup.contentKey(Text.nfcNormalize(col("text"))))
      .distinct().count()
    assert(rawKeys == 2 && nfcKeys == 1)
    // null-safe
    val n = Seq[Option[String]](None).toDF("t")
      .select(Text.nfcNormalize(col("t"))).collect()
    assert(n(0).isNullAt(0))
  }

  test("repetition score: 1 - distinct/total 3-grams, zero for short docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c a b c a b c"),  // 7 grams: abc bca cab abc bca cab abc → 3 distinct
      (2L, "all tokens unique in this doc"),
      (3L, "one two")             // < 3 tokens → no grams → 0.0
    ).toDF("doc_id", "text")
    val got = Text.repetitionScore(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - (1.0 - 3.0 / 7.0)) < 1e-15)
    assert(got(2L) == 0.0)
    assert(got(3L) == 0.0)
  }

  test("stratified hash sample: deterministic per-stratum rates, layout-stable") {
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val rates = Seq("AUTOMOBILE" -> 5000, "BUILDING" -> 1000)
    val a = Sampling.stratifiedSampleHash(cust, "c_custkey", "c_mktsegment", rates, defaultBp = 0)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val b = Sampling.stratifiedSampleHash(cust.repartition(7), "c_custkey", "c_mktsegment", rates, defaultBp = 0)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // unlisted strata drop entirely under defaultBp = 0
    val kept = cust.filter(col("c_custkey").isInCollection(a))
      .select("c_mktsegment").distinct().collect().map(_.getString(0)).toSet
    assert(kept.subsetOf(Set("AUTOMOBILE", "BUILDING")))
    // the sample is exactly the rows whose q49-style bucket clears the rate
    val byBucket = cust.filter(
        Sampling.hashBucket(col("c_custkey")) <
          when(col("c_mktsegment") === "AUTOMOBILE", 5000)
            .when(col("c_mktsegment") === "BUILDING", 1000).otherwise(0))
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(a == byBucket)
  }

  test("asof join forward: earliest at-or-after, inclusive, null when none") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 25L, "b"), (1L, 40L, "c"), (2L, 5L, "d"))
      .toDF("k", "ts", "lv")
    val right = Seq((1L, 10L, "r10"), (1L, 30L, "r30"), (3L, 1L, "rx"))
      .toDF("k", "ts", "rv")
    val fwd = AsOf.join(left, right, Seq("k"), "ts", direction = "forward")
      .select("lv", "rv").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // a: same-instant right row visible; b: next is r30; c/d: nothing after
    assert(fwd == Map("a" -> "r10", "b" -> "r30", "c" -> null, "d" -> null))
    val bwd = AsOf.join(left, right, Seq("k"), "ts")
      .select("lv", "rv").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bwd == Map("a" -> "r10", "b" -> "r10", "c" -> "r30", "d" -> null))
  }

  test("int8 quantization: half-up rounding, clamp, zero vectors, dequant error bound") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, -1.0f, 0.5f, 0.25f)),
      (2L, Array(0.0f, 0.0f)),          // zero vector → all-zero, no NaN
      (3L, Array(-2.0f, 1.0f))
    ).toDF("id", "v")
    val out = df.select(col("id"),
        Similarity.quantScale(col("v")).as("s"),
        Similarity.quantizeInt8(col("v")).as("q"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2))).toList
      .sortBy(_._1)
    assert(out(0)._3 == Seq(127, -127, 64, 32))  // 63.5 and 31.75 round half-up
    assert(out(1)._3 == Seq(0, 0) && out(1)._2 == 0.0)
    assert(out(2)._3 == Seq(-127, 64))
    // dequantization error ≤ half a quantization step on random vectors
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 50).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 20f - 10f)))
    val err = vecs.toDF("id", "v")
      .select(Similarity.quantScale(col("v")).as("s"), col("v"),
        Similarity.quantizeInt8(col("v")).as("q"))
      .select(aggregate(zip_with(col("v"), col("q"),
          (x, q) => abs(x.cast("double") - q * col("s") / 127.0d)),
        lit(0.0d), (acc, e) => greatest(acc, e)).as("maxerr"), col("s"))
      .collect().map(r => r.getDouble(0) / (r.getDouble(1) / 127.0))
    assert(err.forall(_ <= 0.5 + 1e-9), err.max)
  }

  test("sequence packing: offsets are a per-shard prefix sum, packs respect order") {
    import spark.implicits._
    val docs = Seq(
      (0L, 0L, 300), (8L, 0L, 300), (16L, 0L, 300), // shard 0: offsets 0,300,600
      (1L, 1L, 700), (9L, 1L, 100)                  // shard 1: offsets 0,700
    ).toDF("doc_id", "shard", "toks")
    val got = Sampling.packSequences(docs, "shard", "doc_id", "toks", 512)
      .select("doc_id", "pack_offset", "pack_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      0L -> ((0L, 0L)), 8L -> ((300L, 0L)), 16L -> ((600L, 1L)),
      1L -> ((0L, 0L)), 9L -> ((700L, 1L))))
  }

  test("persisted minhash sketch index reproduces in-memory candidate pairs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val path = graft.TestDirs.fresh("graft_minhash_index")
    Dedup.writeMinhashIndex(docs, "text", "doc_id", path)
    val indexed = Dedup.minhashCandidatePairsIndexed(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inMemory = Dedup.minhashCandidatePairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed == inMemory && indexed.nonEmpty)
  }

  test("incremental dedup: new batch vs persisted index finds planted cross-dups") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val path = graft.TestDirs.fresh("graft_minhash_incr_index")
    Dedup.writeMinhashIndex(docs, "text", "doc_id", path)
    // the batch: one doc copied verbatim from the corpus + one fresh doc
    val corpusText = docs.filter(col("doc_id") === 7L).head().getString(1)
    val batch = Seq((500001L, corpusText),
      (500002L, "completely novel content that matches nothing in the corpus at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairsAgainstIndex(spark, path, batch, "text", "doc_id")
      .filter(col("est_jaccard") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((7L, 500001L)), pairs)
    assert(!pairs.exists(_._2 == 500002L))
  }

  test("next-fit packing: docs never split, packs never overflow, oversized solo") {
    import spark.implicits._
    val docs = Seq(
      (0L, 0L, 300L), (1L, 0L, 300L), (2L, 0L, 200L), (3L, 0L, 700L), (4L, 0L, 100L),
      (10L, 1L, 512L), (11L, 1L, 1L)
    ).toDF("doc_id", "shard", "toks")
    val got = Sampling.packSequencesNextFit(docs, "shard", "doc_id", "toks", 512)
      .select("doc_id", "pack_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // shard 0: [300] fits; 300+300>512 → new pack [300,200]; 700 oversized solo;
    //          100 opens the next pack. shard 1: exactly-full pack, then new.
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      10L -> 0L, 11L -> 1L), got)
    // invariant on random data: no pack exceeds max unless it is a single
    // oversized doc, and pack ids are contiguous per shard
    val rnd = new scala.util.Random(5L)
    val rand = (0 until 400).map(i => (i.toLong, (i % 7).toLong, (rnd.nextInt(400) + 1).toLong))
      .toDF("doc_id", "shard", "toks")
    val packs = Sampling.packSequencesNextFit(rand, "shard", "doc_id", "toks", 512)
      .groupBy("shard", "pack_id")
      .agg(sum("toks").as("total"), count(lit(1)).as("n"))
      .collect()
    assert(packs.forall(r => r.getLong(2) <= 512 || r.getLong(3) == 1))
  }

  test("curate: end-to-end dedup → gate → split → pack flow") {
    import spark.implicits._
    val good = "The quick brown fox jumps over the lazy dog and then it runs far away into the green hills. " * 4
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (900001L, good),            // planted survivor
        (900002L, good),            // exact duplicate of it → dropped
        (900003L, good + " Extra trailing words change little here truly.") // near-dup → dropped
      ).toDF("doc_id", "text"))
    val out = Curate.curate(docs, "doc_id", "text",
      Curate.Config(minQuality = 0.5, langs = Seq("en"), nearDupJaccard = 0.6,
        splits = Seq(("train", 8000), ("val", 2000)), packTokens = 512, shards = 8))
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(900001L) && !ids.contains(900002L) && !ids.contains(900003L))
    // every survivor has a split, a shard, and a pack assignment
    val row = out.filter(col("doc_id") === 900001L).head()
    assert(Set("train", "val")(row.getAs[String]("split")))
    assert(row.getAs[Long]("shard") >= 0 && row.getAs[Long]("shard") < 8)
    assert(row.getAs[Long]("pack_id") >= 0)
    // deterministic: second run identical
    val again = Curate.curate(docs, "doc_id", "text",
      Curate.Config(minQuality = 0.5, langs = Seq("en"), nearDupJaccard = 0.6,
        splits = Seq(("train", 8000), ("val", 2000)), packTokens = 512, shards = 8))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == ids)
  }

  test("curateObserved: stage counters ride the single pass and match recomputation") {
    import spark.implicits._
    val good = "The quick brown fox jumps over the lazy dog and then it runs far away into the green hills. " * 4
    val docs = Seq(
      (1L, good), (2L, good),                              // exact dup pair
      (3L, good + " Extra trailing words change little here truly."), // near-dup of 1
      (4L, "zz"),                                          // quality-gated
      (5L, "The calm river flows south past the old stone bridge and beyond the quiet village it bends east toward the sea again.")
    ).toDF("doc_id", "text")
    val cfg = Curate.Config(minQuality = 0.3, langs = Seq("en"),
      nearDupJaccard = 0.6, splits = Seq(("train", 10000)), packTokens = 512, shards = 4)
    val (out, obs) = Curate.curateObserved(spark, docs, "doc_id", "text", cfg)
    val survivors = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val metrics = obs.map(o => o.get).reduce(_ ++ _)
    assert(metrics("docs_in") == 5L)
    assert(metrics("exact_kept") == 4L)    // doc 2 dropped
    assert(metrics("gated_kept") == survivors.size.toLong)
    assert(survivors == Set(1L, 5L))       // 3 near-dup-dropped, 4 gated
    // parity with the unobserved pipeline
    val plain = Curate.curate(docs, "doc_id", "text", cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(plain == survivors)
  }

  test("writeTrainingLayout: split/shard directories, pruned reads, pack order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_layout").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val curated = Curate.curate(docs, "doc_id", "text",
      Curate.Config(minQuality = 0.0, langs = Seq("en"), nearDupJaccard = 0.8,
        splits = Seq(("train", 8000), ("val", 2000)), packTokens = 512, shards = 4))
    Curate.writeTrainingLayout(curated, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == curated.count())
    // partition pruning: a split+shard slice reads only that directory
    val one = back.filter(col("split") === "train" && col("shard") === 1)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan.take(1500))
    val ids = one.select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = curated.filter(col("split") === "train" && col("shard") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == expect && ids.nonEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("incremental curate == full curate over the union (append-only ids)") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // τ = 0.5 sits far from both the planted near-dup similarities (≥ .85)
    // and the natural background (~.04), so the estimated-Jaccard gate of
    // the incremental cross-corpus path classifies identically to the
    // exact-verify gate of the full run — the documented deviation is
    // confined to threshold-adjacent pairs, and none exist here
    val cfg = Curate.Config(nearDupJaccard = 0.5)
    val corpus = all.filter(col("doc_id") < 300)
    val batch = all.filter(col("doc_id") >= 300)
    val full = Curate.curate(all, "doc_id", "text", cfg)
    val corpusCurated = Curate.curate(corpus, "doc_id", "text", cfg)
    val idxPath = graft.TestDirs.fresh("graft_curate_incr_idx")
    Dedup.writeMinhashIndex(corpusCurated.select("doc_id", "text"), "text", "doc_id", idxPath)
    val inc = Curate.curateIncrement(spark, batch, "doc_id", "text", idxPath,
      Some(Curate.shardTokenTotals(corpusCurated)), cfg)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "quality", "lang", "split", "shard", "toks", "pack_offset", "pack_id")
        .collect().map(r => r.toSeq).toSet
    val got = snap(corpusCurated) ++ snap(inc)
    val expect = snap(full)
    assert(got == expect, s"sym diff=${(got diff expect) ++ (expect diff got)}")
    assert(expect.nonEmpty && snap(inc).nonEmpty)
    // with corpus text provided, the cross-corpus gate is the exact verify
    // (no threshold caveat at all) — same equality must hold
    val incExact = Curate.curateIncrement(spark, batch, "doc_id", "text", idxPath,
      Some(Curate.shardTokenTotals(corpusCurated)), cfg, corpusDocs = Some(corpus))
    assert(snap(corpusCurated) ++ snap(incExact) == expect)
  }

  test("incremental curate with corpus text: exact parity at a threshold-adjacent tau") {
    import spark.implicits._
    // 20-word base; variant changes the last 3 words → shingle sets share
    // 15 of 18 word-3-grams: exact J = 15/21 = 5/7, which is NOT a
    // multiple of 1/64 — the 64-perm estimate must differ, so a τ strictly
    // between the two values makes the estimate gate and the exact gate
    // disagree on this pair. The exact path must classify like the full
    // run; the estimate fallback must not (proving the test bites).
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango")
    val variant = base.split(' ').dropRight(3).mkString(" ") + " uniform victor whiskey"
    val corpus = Seq((10L, base),
      (11L, "completely different text about rivers and bridges spanning quiet valleys under autumn skies tonight")
    ).toDF("doc_id", "text")
    val batch = Seq((1000L, variant),
      (1001L, "another unrelated document mentioning telescopes and the northern constellations overhead in winter air")
    ).toDF("doc_id", "text")
    val idxPath = java.nio.file.Files.createTempDirectory("graft_exact_idx").toString + "/idx"
    Dedup.writeMinhashIndex(corpus, "text", "doc_id", idxPath)

    val est = Dedup.minhashCandidatePairsAgainstIndex(spark, idxPath, batch, "text", "doc_id")
      .filter(col("id_a") === 10 && col("id_b") === 1000)
      .select("est_jaccard").collect()
    assert(est.length == 1, "planted pair must be an LSH candidate")
    val estJ = est.head.getDouble(0)
    val exactJ = 15.0 / 21.0
    assert(estJ != exactJ)
    val tau = (math.min(estJ, exactJ) + math.max(estJ, exactJ)) / 2

    val cfg = Curate.Config(minQuality = 0.0, langs = Seq("en", "und"),
      nearDupJaccard = tau, splits = Seq(("train", 10000)), packTokens = 256, shards = 2)
    val full = Curate.curate(corpus.unionByName(batch), "doc_id", "text", cfg)
    val corpusCurated = Curate.curate(corpus, "doc_id", "text", cfg)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "split", "shard", "toks", "pack_offset", "pack_id")
        .collect().map(_.toSeq).toSet
    val incExact = Curate.curateIncrement(spark, batch, "doc_id", "text", idxPath,
      Some(Curate.shardTokenTotals(corpusCurated)), cfg, corpusDocs = Some(corpus))
    assert(snap(corpusCurated) ++ snap(incExact) == snap(full))
    // the estimate fallback disagrees at this τ — the deviation the exact
    // verify closes
    val incEst = Curate.curateIncrement(spark, batch, "doc_id", "text", idxPath,
      Some(Curate.shardTokenTotals(corpusCurated)), cfg)
    assert(snap(corpusCurated) ++ snap(incEst) != snap(full))

    // scale shape: the corpus scan is pruned by a broadcast LEFT SEMI join
    // on candidate ids before tokenization
    val plan = Dedup.nearDuplicatePairsAgainstIndex(spark, idxPath, batch, corpus,
      "text", "doc_id", tau).queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(2000))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idxPath).getParentFile)
  }

  test("exact verify against an index seeded BEYOND the corpus: " +
       "index-only candidates fall back to the estimate gate, not a drop") {
    import spark.implicits._
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango")
    val ghost = ("one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty")
    val ghostVar = ghost.split(' ').dropRight(2).mkString(" ") + " extra words"
    // corpus text table holds doc 10 only; the INDEX additionally holds
    // doc 12 (a pre-built index over documents never written to the data
    // dir — the exactVerify caveat ADVICE flagged)
    val corpus = Seq((10L, base)).toDF("doc_id", "text")
    val indexed = Seq((10L, base), (12L, ghost)).toDF("doc_id", "text")
    val batch = Seq((1000L, base + " tail"), (1001L, ghostVar))
      .toDF("doc_id", "text")
    val idxPath =
      java.nio.file.Files.createTempDirectory("graft_orphan_idx").toString + "/idx"
    Dedup.writeMinhashIndex(indexed, "text", "doc_id", idxPath)
    val got = Dedup.nearDuplicatePairsAgainstIndex(spark, idxPath, batch,
        corpus, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (10, 1000): exact verify (text present). (12, 1001): corpus text is
    // absent — must STILL flag via the estimate gate rather than silently
    // keeping the near-dup
    assert(got == Set((10L, 1000L), (12L, 1001L)), got.toString)
    // and the estimate value rides the jaccard column for the orphan pair
    val orphanJ = Dedup.nearDuplicatePairsAgainstIndex(spark, idxPath, batch,
        corpus, "text", "doc_id", threshold = 0.5)
      .filter(col("id_a") === 12L).select("jaccard").head().getDouble(0)
    val estJ = Dedup.minhashCandidatePairsAgainstIndex(spark, idxPath, batch,
        "text", "doc_id")
      .filter(col("id_a") === 12L && col("id_b") === 1001L)
      .select("est_jaccard").head().getDouble(0)
    assert(orphanJ == estJ && estJ >= 0.5)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idxPath).getParentFile)
  }

  test("sessionization splits on gap") {
    import java.sql.Timestamp
    val rows = Seq(
      (1L, Timestamp.valueOf("2026-01-01 10:00:00"), 1.0),
      (1L, Timestamp.valueOf("2026-01-01 10:10:00"), 2.0),
      (1L, Timestamp.valueOf("2026-01-01 12:00:00"), 3.0), // gap > 30min → new session
      (2L, Timestamp.valueOf("2026-01-01 10:00:00"), 4.0))
    val df = spark.createDataFrame(rows).toDF("user_id", "ts", "value")
    val sess = Sessions.sessionize(df)
    val got = sess.select("user_id", "session_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(got(1L) == 2L)
    assert(got(2L) == 1L)
    val stats = Sessions.sessionStats(df).filter(col("user_id") === 1 && col("session_seq") === 1).head()
    assert(stats.getAs[Long]("n_events") == 2L)
  }

  test("event-time operators accept TIMESTAMP_NTZ input (pandas/pyarrow default)") {
    import java.time.LocalDateTime
    import java.sql.Timestamp
    // NTZ fixture: LocalDateTime encodes as TimestampNTZType
    val ntzRows = Seq(
      (1L, LocalDateTime.parse("2026-01-01T10:00:00"), 1.0),
      (1L, LocalDateTime.parse("2026-01-01T10:10:00"), 2.0),
      (1L, LocalDateTime.parse("2026-01-01T12:00:00"), 3.0),
      (2L, LocalDateTime.parse("2026-01-01T10:00:00"), 4.0))
    val ntz = spark.createDataFrame(ntzRows).toDF("user_id", "ts", "value")
    assert(ntz.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val ltz = spark.createDataFrame(ntzRows.map { case (u, t, v) =>
      (u, Timestamp.valueOf(t), v) }).toDF("user_id", "ts", "value")

    // sessionize / sessionStats: identical session structure on either type
    def sessKey(df: org.apache.spark.sql.DataFrame) =
      Sessions.sessionStats(df)
        .select("user_id", "session_seq", "n_events", "total_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    assert(sessKey(ntz) == sessKey(ltz))

    // funnel over NTZ (comparisons + joins, no unix_micros)
    val funnelNtz = Sessions.funnel(
        ntz.withColumn("event_type",
          when(col("value") < 2.5, "view").otherwise("purchase")),
        "user_id", "ts", "event_type", Seq("view", "purchase"))
      .select("user_id", "stage").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(funnelNtz == Map(1L -> 2L, 2L -> 0L))

    // ts_micros is the UTC-instant micros of the wall clock, independent of
    // the session timezone (a cast would NOT be)
    val wall = LocalDateTime.parse("2026-01-01T10:00:00")
    val expectedUs = wall.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val one = spark.createDataFrame(Seq(Tuple1(wall))).toDF("ts")
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      Seq("UTC", "America/New_York").foreach { tz =>
        spark.conf.set("spark.sql.session.timeZone", tz)
        assert(one.select(Time.tsMicros(col("ts"))).head().getLong(0)
          == expectedUs, s"tz=$tz")
        assert(one.select(unix_micros(Time.ntzToUtc(col("ts")))).head()
          .getLong(0) == expectedUs, s"tz=$tz")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)

    // both pass through TIMESTAMP unchanged
    assert(ltz.select(Time.tsMicros(col("ts"))).head().getLong(0) ==
      ltz.select(unix_micros(col("ts"))).head().getLong(0))
    assert(ltz.select(Time.ntzToUtc(col("ts"))).schema.head.dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("salted join equals plain join") {
    val fact = spark.range(1000).toDF("id")
      .withColumn("k", (col("id") % 3).cast("int")) // 3 hot keys
    val dim = spark.range(3).toDF("k").withColumn("k", col("k").cast("int"))
      .withColumn("name", concat(lit("key"), col("k")))
    val plain = fact.join(dim, Seq("k")).select("id", "name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Skew.saltedJoin(fact, dim, "k", nSalts = 8).select("id", "name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted == plain)
  }

  // ---------------------------------------------------------- multimodal

  test("multimodal batched per-partition decode") {
    val media = Multimodal.syntheticMedia(spark.range(20).toDF("id"), "id")
    val decoded = Multimodal.decodeBatched(media).collect()
    assert(decoded.length == 20)
    assert(decoded.forall { r =>
      val id = r.getLong(0)
      r.getInt(1) == 64 + (id % 64).toInt && r.getInt(2) == 64 + (id % 48).toInt &&
        r.getLong(3) == r.getInt(1).toLong * r.getInt(2)
    })
  }

  test("multimodal stub plumbing: decode, featurize, frames") {
    val base = spark.range(10).toDF("id")
    val media = Multimodal.syntheticMedia(base, "id")
    val decoded = media.select(col("media_id"), Multimodal.decodeImageStub(col("payload")).as("img"))
      .select(col("media_id"), col("img.width"), col("img.height"), col("img.n_pixels"))
      .collect()
    assert(decoded.forall { r =>
      val id = r.getLong(0)
      r.getInt(1) == 64 + (id % 64).toInt && r.getInt(2) == 64 + (id % 48).toInt
    })
    val feats = media.select(Multimodal.featurizeStub(col("payload"), 16).as("f")).head().getSeq[Float](0)
    assert(feats.length == 16 && feats.forall(f => f >= -1.0f && f <= 1.0f))
    val frames = Multimodal.sampleFrames(media, "payload", frameCount = 8, everyN = 2)
    assert(frames.count() == 10 * 4)
    // resize rewrites the header in place; payload tail survives and the
    // new dimensions are visible to a subsequent decode
    val resized = media.select(col("media_id"),
        Multimodal.decodeImageStub(Multimodal.resizeStub(col("payload"), 224, 224)).as("img"),
        length(Multimodal.resizeStub(col("payload"), 224, 224)).as("len"),
        length(col("payload")).as("len0"))
      .collect()
    assert(resized.forall { r =>
      val img = r.getStruct(1)
      img.getInt(0) == 224 && img.getInt(1) == 224 && r.getInt(2) == r.getInt(3)
    })
  }

  test("real AVI demux: frame round-trip, sampling, corruption handling") {
    // container round trip: what goes in as frame chunks comes back verbatim
    val frames = (0 until 5).map(f => Multimodal.pngPayload(100L + f))
    val avi = Multimodal.aviFromFrames(frames)
    val back = Multimodal.aviFrames(avi)
    assert(back.length == 5)
    assert(back.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    // corrupt / truncated / non-AVI → empty, never a throw
    assert(Multimodal.aviFrames(null).isEmpty)
    assert(Multimodal.aviFrames(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.aviFrames(avi.take(20)).isEmpty)
    assert(Multimodal.aviFrames(Multimodal.pngPayload(7L)).isEmpty)
    // distributed sample+decode: every 2nd frame of 2+id%3 frames, exact sums
    val media = Multimodal.syntheticAviMedia(spark.range(30).toDF("id"), "id")
    val out = Multimodal.sampleFramesDecoded(media, everyN = 2).collect()
    val expected = (0L until 30L).flatMap { id =>
      (0 until (2 + id % 3).toInt).filter(_ % 2 == 0).map(f => (id, f))
    }.toSet
    assert(out.map(r => (r.getLong(0), r.getInt(1))).toSet == expected)
    out.foreach { r =>
      val x = r.getLong(0) * 7 + r.getInt(1)
      val w = (8 + x % 9).toInt; val h = (8 + x % 7).toInt
      assert(r.getInt(2) == w && r.getInt(3) == h)
      assert(r.getLong(4) == w.toLong * h * ((x * 7) % 256))
      val grow = (0 until w).map(xx => (xx * 255) / (w - 1)).sum
      assert(r.getLong(5) == h.toLong * grow)
      assert(r.getLong(6) == w.toLong * h * ((x * 31) % 256))
    }
    // the MJPEG arm: JPEG-frame AVIs decode through the same path. Dims
    // are exact; pixels of a solid-color frame come back UNIFORM and
    // within ±1 per channel (YCbCr round-trip rounding — measured: the
    // sole deviation shape across all 256 gray levels; exact closed-form
    // pixel oracles are therefore out of reach for lossy MJPEG, which is
    // why the board face q88 certifies on the lossless PNG-frame family
    // and MJPEG is pinned here)
    for (c <- Seq(0, 7, 128, 255)) {
      val rgb = (c << 16) | (((c * 59) % 256) << 8) | ((c * 83) % 256)
      val img = new java.awt.image.BufferedImage(12, 10,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 10; x <- 0 until 12) img.setRGB(x, y, rgb)
      val jb = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", jb)
      val javi = Multimodal.aviFromFrames(Seq(jb.toByteArray))
      val jd = new Multimodal.ImageDecoder()
        .decode(Multimodal.aviFrames(javi).head).get
      assert(jd.width == 12 && jd.height == 10)
      val n = 12L * 10L
      for ((sum, want) <- Seq(jd.sumR -> ((rgb >> 16) & 0xFF),
          jd.sumG -> ((rgb >> 8) & 0xFF), jd.sumB -> (rgb & 0xFF)))
        assert(math.abs(sum - n * want) <= n,
          s"MJPEG channel drifted >1/px (c=$c): sum=$sum want=${n * want}")
    }
  }

  test("real WAV decode: PCM16 round-trip stats, corruption handling") {
    val samples = Array[Short](100, -200, 300, -400, 32767, -32768)
    val wav = Multimodal.wavFromSamples(samples, 16000)
    val d = Multimodal.decodeWav(wav).get
    assert(d.sampleRate == 16000 && d.nSamples == 6)
    assert(d.sumAbs == 100L + 200 + 300 + 400 + 32767 + 32768)
    assert(d.peak == 32768)
    assert(Multimodal.decodeWav(null).isEmpty)
    assert(Multimodal.decodeWav(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeWav(wav.take(30)).isEmpty)
    assert(Multimodal.decodeWav(Multimodal.pngPayload(3L)).isEmpty)
    // distributed path: closed-form stats per id
    val out = Multimodal.audioStatsBatched(
      Multimodal.syntheticWavMedia(spark.range(40).toDF("id"), "id")).collect()
    assert(out.length == 40)
    out.foreach { r =>
      val id = r.getLong(0)
      val n = (64 + id % 32).toInt
      val expAbs = (0 until n).map(i => math.abs(((id * 31 + i * 17) % 2003) - 1001)).sum
      val expPeak = (0 until n).map(i => math.abs(((id * 31 + i * 17) % 2003) - 1001)).max
      assert(r.getInt(1) == 8000 + (id % 4).toInt * 4000)
      assert(r.getLong(2) == n.toLong && r.getLong(3) == expAbs && r.getInt(4) == expPeak)
    }
  }

  test("real pixel featurizer: mean-pool grid from the real decode") {
    // gradient PNG: cell means are exact integer-sum / count divisions
    val id = 13L
    val feats = Multimodal.featurizePixelsPayload(Multimodal.pngPayload(id), 4)
    assert(feats.length == 48)
    val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
    val r = ((id * 7) % 256).toFloat; val b = ((id * 31) % 256).toFloat
    for (cell <- 0 until 16) {
      assert(feats(cell * 3) == r)       // solid R: every cell mean exact
      assert(feats(cell * 3 + 2) == b)   // solid B
      val cx = cell % 4
      val x0 = cx * w / 4; val x1 = (cx + 1) * w / 4
      val gmean = (x0 until x1).map(x => (x * 255) / (w - 1)).sum.toFloat / (x1 - x0)
      assert(feats(cell * 3 + 1) == gmean, s"cell $cell")
    }
    assert(Multimodal.featurizePixelsPayload(null, 4) == null)
    assert(Multimodal.featurizePixelsPayload(Array[Byte](9, 9), 4) == null)
    // flows into Similarity as a first-class embedding column
    import spark.implicits._
    val emb = Multimodal.syntheticPngMedia(spark.range(12).toDF("id"), "id")
      .select(col("media_id"), Multimodal.featurizePixels(col("payload"), 4).as("embedding"))
    val pairs = graft.pipeline.Similarity.bruteForceTopK(
      emb, emb.limit(2), "media_id", "embedding", k = 3).collect()
    assert(pairs.length == 6)
  }

  test("real PNG decode: imageio round-trip recovers exact pixel sums") {
    val media = Multimodal.syntheticPngMedia(spark.range(40).toDF("id"), "id")
    val decoded = Multimodal.decodeImageBatched(media).collect()
    assert(decoded.length == 40)
    decoded.foreach { r =>
      val id = r.getLong(0)
      val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
      assert(r.getInt(1) == w && r.getInt(2) == h && r.getLong(3) == w.toLong * h)
      assert(r.getLong(4) == w.toLong * h * ((id * 7) % 256))       // solid R
      val grow = (0 until w).map(x => (x * 255) / (w - 1)).sum      // gradient G
      assert(r.getLong(5) == h.toLong * grow)
      assert(r.getLong(6) == w.toLong * h * ((id * 31) % 256))      // solid B
    }
  }

  test("real decode: corrupt / null / non-image payloads degrade to NULL") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.pngPayload(1L)),                       // good
      (2L, null.asInstanceOf[Array[Byte]]),                  // null
      (3L, Array[Byte](1, 2, 3)),                            // garbage
      (4L, Multimodal.pngPayload(4L).take(30)),              // truncated PNG
      (5L, Multimodal.fakeImagePayload(9, 9, 5L)))           // GRFT, not an image
    val media = rows.toDF("media_id", "payload")
    val out = Multimodal.decodeImageBatched(media).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true, 5L -> true))
  }

  test("real decode handles JPEG containers too") {
    // encode a solid-color JPEG with imageio; decode must recover exact
    // dimensions, and (lossy) channel means within a small tolerance
    val img = new java.awt.image.BufferedImage(24, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 24) img.setRGB(x, y, (200 << 16) | (100 << 8) | 50)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val d = new Multimodal.ImageDecoder().decode(bos.toByteArray).get
    assert(d.width == 24 && d.height == 16)
    val n = 24 * 16
    assert(math.abs(d.sumR.toDouble / n - 200) < 8)
    assert(math.abs(d.sumG.toDouble / n - 100) < 8)
    assert(math.abs(d.sumB.toDouble / n - 50) < 8)
  }

  test("real resize: nearest-neighbor rescale re-encodes decodable PNG") {
    import spark.implicits._
    val media = Multimodal.syntheticPngMedia(spark.range(6).toDF("id"), "id")
      .select(col("media_id"), Multimodal.resizeImage(col("payload"), 32, 20).as("payload"))
    val decoded = Multimodal.decodeImageBatched(media).collect()
    decoded.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 32 && r.getInt(2) == 20 && r.getLong(3) == 640L)
      // solid channels survive any resampling exactly
      assert(r.getLong(4) == 640L * ((id * 7) % 256))
      assert(r.getLong(6) == 640L * ((id * 31) % 256))
      // gradient channel stays bounded by the source extremes
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 640L * 255)
    }
    // null-safety of the column form
    val nulls = Seq((9L, null.asInstanceOf[Array[Byte]])).toDF("media_id", "payload")
      .select(Multimodal.resizeImage(col("payload"), 8, 8).as("p")).head()
    assert(nulls.isNullAt(0))
  }

  test("dedupLines: first-occurrence line dedup, short-line exemption, skew-safe plan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma\nshort\ncommon line here"),
      (2L, "common line here\nunique to doc two\nshort"),
      (3L, "common line here"), // every line removed → empty survivor
      (4L, "")                  // empty text: one zero-length (exempt) line
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "text", "doc_id", "\n", minChars = 8)
    val rows = out.orderBy("doc_id").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq(
      "alpha beta gamma\nshort\ncommon line here", // doc 1 owns the common line
      "unique to doc two\nshort",                  // later occurrence cut, order kept
      "",                                          // all lines removed
      ""))                                         // empty doc unchanged
    assert(rows.map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((3L, 0L), (2L, 1L), (0L, 1L), (1L, 0L)))

    // minChars = 0: even empty lines contend for the global first slot
    val strict = Dedup.dedupLines(
      Seq((1L, "x\n\ny"), (2L, "\nz")).toDF("doc_id", "text"),
      "text", "doc_id", "\n", minChars = 0).orderBy("doc_id").collect()
    assert(strict(0).getString(1) == "x\n\ny" && strict(1).getString(1) == "z")

    // idempotent: a deduped corpus is a fixed point
    val once = Dedup.dedupLines(docs, "text", "doc_id", "\n", minChars = 8)
      .select("doc_id", "text")
    val twice = Dedup.dedupLines(once, "text", "doc_id", "\n", minChars = 8)
      .select("doc_id", "text")
    assert(twice.orderBy("doc_id").collect().toSeq ==
      once.orderBy("doc_id").collect().toSeq)

    // scale shape: winner selection is a partial-aggregated min, NOT a
    // window over partition-by-line (a hot boilerplate line would sort
    // all its occurrences in one reducer partition)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_min") || plan.contains("partial min") ||
      plan.toLowerCase.contains("partialmerge") || plan.contains("min(struct"), plan)
  }

  test("dedupLines: normalized matching collapses case variants, keeps winner bytes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Subscribe To Our Newsletter\nreal content one"),
      (2L, "SUBSCRIBE TO OUR NEWSLETTER\nreal content two")
    ).toDF("doc_id", "text")
    // raw matching: case variants are distinct lines — nothing removed
    val raw = Dedup.dedupLines(docs, "text", "doc_id", "\n", 0)
      .orderBy("doc_id").collect()
    assert(raw.forall(_.getLong(3) == 0L))
    // normalized matching: variants collapse; doc 1 keeps ITS casing
    val norm = Dedup.dedupLines(docs, "text", "doc_id", "\n", 0,
      normalize = Some(c => lower(trim(c)))).orderBy("doc_id").collect()
    assert(norm(0).getString(1) == "Subscribe To Our Newsletter\nreal content one")
    assert(norm(1).getString(1) == "real content two")
    assert(norm(1).getLong(3) == 1L)
  }

  test("dedupLines matches a sequential brute-force reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    // tiny line vocabulary → heavy cross-document collisions; mix of
    // exempt-short and eligible lines, plus empty lines and empty docs
    val vocab = Vector("aa", "bb", "", "common body line", "other body line",
      "x y", "third body line here")
    val docs = (1L to 40L).map { id =>
      (id, Vector.fill(rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size)))
        .mkString("\n"))
    }
    val minChars = 4
    val seen = scala.collection.mutable.Set[String]()
    val expected = docs.map { case (id, text) =>
      val kept = text.split("\n", -1).toSeq.filter { l =>
        if (l.length < minChars) true
        else if (seen(l)) false
        else { seen += l; true }
      }
      (id, kept.mkString("\n"), kept.size.toLong,
        text.split("\n", -1).length.toLong - kept.size)
    }
    val got = Dedup.dedupLines(docs.toDF("doc_id", "text"), "text", "doc_id",
        "\n", minChars).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  test("incremental line dedup: equals full dedup over the union, reads only the index") {
    val base = java.nio.file.Files.createTempDirectory("graft_lidx").toString
    val fold = """((?:\S+ ){2}\S+) """
    val lined = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), regexp_replace(col("text"), fold, "$1\n").as("text"))
    val standing = lined.filter(col("doc_id") < 300)
    val b1 = lined.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val b2 = lined.filter(col("doc_id") >= 400)
    val mc = 12
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

    Dedup.writeLineIndex(standing, "text", "doc_id", s"$base/lidx", "\n", mc)
    // append-only ids: standing documents are untouched by a later batch
    assert(rows(Dedup.dedupLines(standing.unionByName(b1), "text", "doc_id", "\n", mc)
        .filter(col("doc_id") < 300)) ==
      rows(Dedup.dedupLines(standing, "text", "doc_id", "\n", mc)))
    // batch 1 arrives as its own files (as a real daily batch would):
    // incremental == full restricted to the batch
    b1.write.parquet(s"$base/b1")
    val b1Files = spark.read.parquet(s"$base/b1")
    val inc1 = Dedup.dedupLinesIncrement(spark, s"$base/lidx", b1Files,
      "text", "doc_id")
    assert(rows(inc1) ==
      rows(Dedup.dedupLines(standing.unionByName(b1), "text", "doc_id", "\n", mc)
        .filter(col("doc_id") >= 300)))
    // the increment plan reads the batch and the slim index — the standing
    // corpus text is never re-split
    val scans = inc1.queryExecution.executedPlan.toString
    assert(scans.contains("lidx") && !scans.contains("documents.parquet"), scans)

    // batch 2 after growing the index with batch 1
    Dedup.appendLineIndex(spark, s"$base/lidx", b1, "text", "doc_id")
    val inc2 = Dedup.dedupLinesIncrement(spark, s"$base/lidx", b2, "text", "doc_id")
    assert(rows(inc2) ==
      rows(Dedup.dedupLines(lined, "text", "doc_id", "\n", mc)
        .filter(col("doc_id") >= 400)))

    // normalize marker guards against a mismatched increment
    intercept[IllegalArgumentException] {
      Dedup.dedupLinesIncrement(spark, s"$base/lidx", b2, "text", "doc_id",
        normalize = Some(c => lower(c)))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("ORC and JSON sources round-trip pipeline tables exactly") {
    val base = java.nio.file.Files.createTempDirectory("graft_sources").toString
    // float-array embeddings through ORC (the other columnar format Spark
    // ships; a corpus ingested as ORC must compute identically)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.write.orc(s"$base/emb_orc")
    val embBack = spark.read.orc(s"$base/emb_orc")
    assert(embBack.schema == emb.schema)
    def embSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toList)).toSet
    assert(embSet(embBack) == embSet(emb))
    // WKB geometry binaries through ORC — byte-exact
    graft.spatial.functions.register(spark)
    val geo = spark.sql(
      "SELECT id, st_point(CAST(id AS DOUBLE), 2.0) AS g FROM range(50)")
    geo.write.orc(s"$base/geo_orc")
    val geoBack = spark.read.orc(s"$base/geo_orc")
    def geoSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toList)).toSet
    assert(geoSet(geoBack) == geoSet(geo))
    // text documents through JSON lines (schema pinned — inference would
    // widen ints); unicode and quotes must survive the escape round-trip
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.json(s"$base/docs_json")
    val docsBack = spark.read.schema(docs.schema).json(s"$base/docs_json")
    assert(docsBack.collect().map(_.toSeq).toSet == docs.collect().map(_.toSeq).toSet)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  // -------------------------------------------------- semantic dedup

  test("semanticDedup: planted duplicates drop, within-cluster parity with brute force") {
    import spark.implicits._
    // deterministic pseudo-random unit-ish vectors (splitmix-style), dim 16
    def vec(seed: Long): Seq[Double] = (0 until 16).map { i =>
      var h = seed * 0x9e3779b97f4a7c15L + i.toLong * 0xc2b2ae3d27d4eb4fL
      h ^= (h >>> 31); h *= 0x7fb5d329728ea185L; h ^= (h >>> 27)
      (h.toDouble / Long.MaxValue.toDouble)
    }
    val base = (0L until 40L).map(i => (i, vec(i)))
    // exact-direction duplicates of ids 0-4 (scale ×3 — cosine exactly 1)
    val planted = (0L until 5L).map(i => (i + 1000L, vec(i).map(_ * 3.0)))
    val corpus = (base ++ planted).toDF("id", "v")
    val out = Clustering.semanticDedup(corpus, "id", "v", k = 4, iters = 2,
        tau = 0.95)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.size == 45)
    // every planted dup lands in its source's cluster and is dropped
    (0L until 5L).foreach { i =>
      assert(out(i + 1000L)._1 == out(i)._1, s"pair $i split across clusters")
      assert(!out(i + 1000L)._2, s"planted dup ${i + 1000} not removed")
      assert(out(i)._2, s"original $i wrongly removed")
    }
    // parity with a brute-force within-cluster quadratic reference
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val all = (base ++ planted).toMap
    val byCluster = out.toSeq.groupBy(_._2._1)
    val expectRemoved = byCluster.values.flatMap { members =>
      val ids = members.map(_._1).sorted
      ids.filter(b => ids.exists(a => a < b && cos(all(a), all(b)) >= 0.95))
    }.toSet
    assert(out.filter(!_._2._2).keySet == expectRemoved)
  }

  // -------------------------------------------------- DSIR weights

  test("dsirLogWeights matches a direct reference and ranks target-like docs higher") {
    import spark.implicits._
    val raw = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "delta epsilon zeta"),
      (3L, "alpha alpha beta beta"),
      (4L, "eta theta iota kappa")).toDF("doc_id", "text")
    val target = Seq(
      (10L, "alpha beta alpha"),
      (11L, "beta gamma beta")).toDF("doc_id", "text")
    val out = Sampling.dsirLogWeights(raw, target, "doc_id", "text", buckets = 64)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // direct reference with the same md5 bucketing
    def bucket(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 64
    }
    val rawToks = Seq(1L -> "alpha beta gamma alpha", 2L -> "delta epsilon zeta",
      3L -> "alpha alpha beta beta", 4L -> "eta theta iota kappa")
      .flatMap { case (id, s) => s.split("\\s+").map(t => (id, bucket(t))) }
    val tgtToks = Seq("alpha beta alpha", "beta gamma beta")
      .flatMap(_.split("\\s+").map(bucket))
    val cr = rawToks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val ct = tgtToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (nr, nt) = (rawToks.size.toLong, tgtToks.size.toLong)
    rawToks.groupBy(_._1).foreach { case (id, toks) =>
      val expect = toks.map { case (_, b) =>
        math.log((ct.getOrElse(b, 0L) + 1).toDouble / (nt + 64).toDouble) -
          math.log((cr(b) + 1).toDouble / (nr + 64).toDouble)
      }.sum
      assert(out(id)._1 == toks.size)
      assert(math.abs(out(id)._2 - expect) < 1e-9, s"doc $id")
    }
    // docs built from target vocabulary outscore disjoint-vocab docs
    assert(out(1L)._2 > out(2L)._2 && out(3L)._2 > out(4L)._2)
  }

  // -------------------------------------------------- Gopher repetition

  test("ngramRepetitionStats: closed-form fractions, ties, and edge docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb aa bb aa"),  // top2: "aa bb"×2 (tie-break vs "bb aa"), dup3: "aa bb aa"×2
      (2L, "x y z w"),          // all 2-grams unique → top2 = smallest gram
      (3L, "hello"),            // no 2-grams
      (4L, ""),                 // no words
      (5L, "ab ab ab ab"))      // total repetition: dup3 frac > 1
      .toDF("doc_id", "text")
    val out = Text.ngramRepetitionStats(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((2.0 * 4 / 10, 2.0 * 6 / 10)))
    assert(out(2L) == ((1.0 * 2 / 4, 0.0)))
    assert(out(3L) == ((0.0, 0.0)))
    assert(out(4L) == ((0.0, 0.0)))
    // "ab ab ab": 3 occurrences... doc 5: 2-gram "ab ab"×3 → 3×4/8;
    // 3-gram "ab ab ab"×2 → 2×6/8
    assert(out(5L) == ((12.0 / 8, 12.0 / 8)))
  }

  // -------------------------------------------------- PageRank

  test("distinct state log: appends union to the same estimate as one shot") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-hll").toString + "/log"
    val b1 = (0 until 3000).map(i => ("a", s"u${i % 1000}")) ++
      (0 until 500).map(i => ("b", s"v$i"))
    val b2 = (0 until 2000).map(i => ("a", s"u${500 + (i % 1000)}")) // 500 overlap
    Materialize.appendDistinctState(spark, path, b1.toDF("k", "v"), Seq("k"), "v")
    Materialize.appendDistinctState(spark, path, b2.toDF("k", "v"), Seq("k"), "v")
    val got = Materialize.readDistinctState(spark, path, Seq("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // union-of-sketches ≡ sketch-of-union: EXACT equality with one shot
    val oneShot = (b1 ++ b2).toDF("k", "v")
      .groupBy("k").agg(expr("hll_sketch_estimate(hll_sketch_agg(v))"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == oneShot)
    // and near the exact cardinalities (a: 1500 distinct, b: 500)
    assert(math.abs(got("a") - 1500.0) / 1500.0 < 0.05, got("a").toString)
    assert(math.abs(got("b") - 500.0) / 500.0 < 0.05, got("b").toString)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(path).getParentFile)
  }

  test("winsorize: clamps to exact type-7 group percentiles") {
    import spark.implicits._
    // group a: 1..10 → p25 (type-7) = 3.25, p75 = 7.75
    val df = ((1 to 10).map(v => ("a", v.toDouble)) :+ ("b", 100.0))
      .toDF("g", "v")
    val out = Stats.winsorize(df, Seq("g"), "v", 0.25, 0.75)
      .filter($"g" === "a")
      .select("v", "v_w").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(out(1.0) == 3.25 && out(2.0) == 3.25 && out(3.0) == 3.25)
    assert(out(4.0) == 4.0 && out(7.0) == 7.0)
    assert(out(8.0) == 7.75 && out(10.0) == 7.75)
    // singleton group: lo = hi = the value, clamp is identity
    val b = Stats.winsorize(df, Seq("g"), "v", 0.25, 0.75)
      .filter($"g" === "b").select("v_w").head().getDouble(0)
    assert(b == 100.0)
  }

  test("pcaProject: recovers the dominant direction; components decorrelate") {
    import spark.implicits._
    // points spread along (3, 4)/5 with small orthogonal jitter: pc1
    // must align with the line, pc2 carry only the jitter
    val dir = (0.6, 0.8)
    val pts = (-20 to 20).map { t =>
      val jit = (t % 5 - 2) * 0.05
      Tuple1(Array((t * dir._1 - jit * dir._2).toFloat,
        (t * dir._2 + jit * dir._1).toFloat))
    }
    val df = pts.toDF("embedding")
    val out = Similarity.pcaProject(df, "embedding", 2)
      .select("pc1", "pc2").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    // variance along pc1 >> pc2, and the two are (nearly) uncorrelated
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val (p1, p2) = (out.map(_._1).toSeq, out.map(_._2).toSeq)
    val (m1, m2) = (mean(p1), mean(p2))
    val var1 = mean(p1.map(x => (x - m1) * (x - m1)))
    val var2 = mean(p2.map(x => (x - m2) * (x - m2)))
    assert(var1 > 50 * var2, s"var1=$var1 var2=$var2")
    val covar = mean(p1.zip(p2).map { case (x, y) => (x - m1) * (y - m2) })
    assert(math.abs(covar) < 1e-6, covar.toString)
    // pc1 spacing follows t: consecutive t differ by ~1 in projection
    val sorted = p1.sorted
    val gaps = sorted.sliding(2).map { case Seq(x, y) => y - x }.toSeq
    assert(gaps.forall(g => g > 0.9 && g < 1.1), gaps.take(3).toString)
  }

  test("gramMatrix: equals the dense reference; upper triangle only; null rows skipped") {
    import spark.implicits._
    val vecs: Seq[Array[Float]] = Seq(
      Array(1f, 2f, 3f), Array(0f, -1f, 0.5f), Array(2f, 2f, 2f))
    val df = vecs.map(Tuple1(_)).toDF("embedding")
      .union(Seq(Tuple1(null.asInstanceOf[Array[Float]])).toDF("embedding"))
    val got = Similarity.gramMatrix(df, "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val expect = (for {
      i <- 0 until 3; j <- i until 3
    } yield (i, j) -> vecs.map(v => v(i).toDouble * v(j).toDouble).sum).toMap
    assert(got.keySet == expect.keySet) // strict upper triangle incl diagonal
    expect.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, k.toString) }
  }

  test("transitionMatrix: hand-computed chain; ties sequence by the tie column") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: a→b→b→c ; u2: a→c ; u3 single event (no pair)
      (1L, 1L, t("2026-01-01 10:00:00"), "a"),
      (2L, 1L, t("2026-01-01 10:01:00"), "b"),
      (3L, 1L, t("2026-01-01 10:02:00"), "b"),
      (4L, 1L, t("2026-01-01 10:03:00"), "c"),
      (5L, 2L, t("2026-01-01 09:00:00"), "a"),
      (6L, 2L, t("2026-01-01 09:05:00"), "c"),
      (7L, 3L, t("2026-01-01 08:00:00"), "a"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = Sessions.transitionMatrix(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // from a: a→b (1), a→c (1) → p = 0.5 each; b→b 0.5, b→c 0.5
    assert(out == Map(
      ("a", "b") -> (1L, 0.5), ("a", "c") -> (1L, 0.5),
      ("b", "b") -> (1L, 0.5), ("b", "c") -> (1L, 0.5)))
    // simultaneous events: the tie column (event_id) decides the order
    val tied = Seq(
      (10L, 9L, t("2026-01-01 10:00:00"), "x"),
      (11L, 9L, t("2026-01-01 10:00:00"), "y"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val tp = Sessions.transitionMatrix(tied).collect()
    assert(tp.length == 1 && tp(0).getString(0) == "x" &&
      tp(0).getString(1) == "y")
  }

  test("cms index: appends merge cells; from-index equals from-scratch") {
    import spark.implicits._
    val b1 = (Seq.fill(60)("hot") ++ Seq.fill(10)("warm") ++
      (0 until 20).map(i => s"c$i")).toDF("k")
    val b2 = (Seq.fill(40)("hot") ++ Seq.fill(40)("warm") ++
      (20 until 40).map(i => s"c$i")).toDF("k")
    val path = java.nio.file.Files
      .createTempDirectory("graft-cms").toString + "/idx"
    Stats.writeCmsIndex(b1, "k", path)
    Stats.appendCmsIndex(spark, path, b2, "k")
    val corpus = b1.union(b2)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scratch = m(Stats.heavyHitters(corpus, "k", 0.2))
    assert(scratch == Map("hot" -> 100L, "warm" -> 50L))
    assert(m(Stats.heavyHittersFromIndex(spark, path, corpus, "k", 0.2))
      == scratch)
    // a second append shifts the support base: N=250, thresh 50 → both
    // survive at 0.2, only hot at 0.5
    Stats.appendCmsIndex(spark, path,
      (0 until 0).map(_ => "x").toDF("k"), "k")
    assert(m(Stats.heavyHittersFromIndex(spark, path, corpus, "k", 0.5))
      == Map("hot" -> 100L))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(path).getParentFile)
  }

  test("hll: estimate within the published error envelope, exact merge " +
       "algebra, correction arm on small cardinalities") {
    import spark.implicits._
    // 50k distinct keys at p=12 (m=4096): published σ = 1.04/√m ≈ 1.6%;
    // assert within 5% (≈ 3σ — deterministic given md5, not a flaky bound)
    val n = 50000
    val corpus = (0 until n).map(i => s"url-$i").toDF("k")
    val est = Stats.hllDistinct(corpus, "k")
      .select("distinct_est").as[Double].head()
    assert(math.abs(est - n) / n < 0.05, s"estimate $est vs true $n")
    // duplicates are invisible by construction: registers are a pure
    // function of the distinct value set
    val dup = Stats.hllDistinct(corpus.union(corpus).union(corpus), "k")
      .select("distinct_est").as[Double].head()
    assert(dup == est)
    // small cardinality → linear-counting arm (est_raw ≤ 2.5m with empty
    // registers): m·ln(m/V) is near-exact down here
    val small = Stats.hllDistinct((0 until 100).map(i => s"u$i").toDF("k"), "k")
      .select(col("est_raw"), col("distinct_est"))
      .as[(Double, Double)].head()
    assert(small._1 <= 2.5 * 4096 && math.abs(small._2 - 100) < 5,
      s"correction arm: $small")
    // p=4 exercises the α₁₆ = 0.673 table constant
    val p4 = Stats.hllDistinct(corpus, "k", p = 4)
      .select("distinct_est").as[Double].head()
    assert(math.abs(p4 - n) / n < 0.6, s"p=4 estimate $p4") // σ = 26%
  }

  test("hll index: log-structured appends max-merge; read equals " +
       "from-scratch over the union bit-identically") {
    import spark.implicits._
    val b1 = (0 until 3000).map(i => s"u-$i").toDF("k")
    val b2 = (1500 until 4500).map(i => s"u-$i").toDF("k") // overlaps b1
    val path = java.nio.file.Files
      .createTempDirectory("graft-hll").toString + "/idx"
    Stats.writeHllIndex(b1, "k", path)
    Stats.appendHllIndex(spark, path, b2, "k")
    val merged = Stats.readHllDistinct(spark, path).collect()
    val scratch = Stats.hllDistinct(b1.union(b2), "k").collect()
    // max-of-maxes merge is EXACT: the merged log yields the identical
    // register maxima, hence the identical one-row estimate frame
    assert(merged.toSeq == scratch.toSeq)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(path).getParentFile)
  }

  test("hll by group: each group's estimate equals the ungrouped HLL over " +
       "that group's slice — no register leakage across groups") {
    import spark.implicits._
    val rows = ((0 until 900).map(i => ("a", s"u-${i % 300}")) ++
      (0 until 50).map(i => ("b", s"u-$i")) ++
      (0 until 10).map(i => ("c", s"w-$i"))).toDF("g", "k")
    val grouped = Stats.hllDistinctByGroup(rows, Seq("g"), "k")
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    for (g <- Seq("a", "b", "c")) {
      val solo = Stats.hllDistinct(rows.filter(col("g") === g), "k")
        .collect().head
      assert(grouped(g) == ((solo.getLong(1), solo.getLong(2),
        solo.getDouble(4))), s"group $g diverges from its solo sketch")
    }
  }

  test("hll by group: the value column may also be a group column") {
    import spark.implicits._
    val rows = Seq(("a", "u-1"), ("a", "u-1"), ("a", "u-2"), ("b", "u-1"))
      .toDF("g", "k")
    val est = Stats.hllDistinctByGroup(rows, Seq("g", "k"), "k")
      .select("g", "k", "distinct_est").as[(String, String, Double)].collect()
    // one distinct value per (g, k) group
    assert(est.map(r => (r._1, r._2)).sorted.toSeq ==
      Seq(("a", "u-1"), ("a", "u-2"), ("b", "u-1")))
    assert(est.forall(r => math.round(r._3) == 1L), est.toSeq)
  }

  test("hll p=16: decimal harmonic sum is exact and order-independent, " +
       "~0.4% envelope, grouped shares the ungrouped estimator") {
    import spark.implicits._
    val n = 500000 // > 2.5m = 163840 so the RAW estimator arm runs
    val corpus = (0 until n).map(i => s"url-$i").toDF("k")
    val est = Stats.hllDistinct(corpus, "k", p = 16)
    // the wide accumulator is DECIMAL(38,0) — BIGINT would overflow at
    // m·2^49 = 2^65 worst case
    assert(est.schema("harmonic_sum").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 0))
    val e = est.select("distinct_est").as[Double].head()
    // published σ = 1.04/√65536 ≈ 0.41%; 1.5% ≈ 3.7σ, deterministic
    assert(math.abs(e - n) / n < 0.015, s"p=16 estimate $e vs true $n")
    // duplicates invisible; estimate is a pure function of the value set
    assert(Stats.hllDistinct(corpus.union(corpus), "k", p = 16)
      .select("distinct_est").as[Double].head() == e)
    // grouped and ungrouped share hllEstimateFrom: identical columns
    val rows = corpus.withColumn("g", lit("a"))
    val grouped = Stats.hllDistinctByGroup(rows, Seq("g"), "k", p = 16)
      .select("registers_set", "harmonic_sum", "distinct_est").collect().head
    val solo = est.select("registers_set", "harmonic_sum", "distinct_est")
      .collect().head
    assert(grouped == solo)
    // MULTI-group p=16: every group's estimate sits in the ~0.4% envelope
    // (1.5% ≈ 3.7σ, deterministic given md5) — the q254 board shape
    val multi = ((0 until 200000).map(i => ("a", s"u-$i")) ++
      (0 until 40000).map(i => ("b", s"v-$i"))).toDF("g", "k")
    val byG = Stats.hllDistinctByGroup(multi, Seq("g"), "k", p = 16)
      .select("g", "distinct_est").as[(String, Double)].collect().toMap
    assert(math.abs(byG("a") - 200000) / 200000 < 0.015, s"a: ${byG("a")}")
    assert(math.abs(byG("b") - 40000) / 40000 < 0.015, s"b: ${byG("b")}")
    // overlap at p=16: three ~0.4% estimates — inclusion–exclusion lands
    // within a few σ of the exact |A∩B| (sides share 100k of 300k/200k)
    val a = (0 until 300000).map(i => s"k-$i").toDF("k")
    val b = (200000 until 400000).map(i => s"k-$i").toDF("k")
    val ov = Stats.hllOverlap(a, b, "k", p = 16)
      .select("est_intersection", "jaccard_est")
      .as[(Double, Double)].head()
    assert(math.abs(ov._1 - 100000) / 100000 < 0.05,
      s"p=16 intersection ${ov._1} vs true 100000")
    assert(math.abs(ov._2 - 0.25) < 0.02, s"p=16 jaccard ${ov._2} vs 0.25")
  }

  test("compactHllIndex/compactCmsIndex: read views preserved " +
       "bit-identically, O(1) files, streaming layout keeps __batch") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-cmp").toString
    def dataFiles(dir: String) = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    // flat batch-side HLL log
    val b1 = (0 until 3000).map(i => s"u-$i").toDF("k")
    val b2 = (1500 until 4500).map(i => s"u-$i").toDF("k")
    Stats.writeHllIndex(b1, "k", s"$base/hll")
    Stats.appendHllIndex(spark, s"$base/hll", b2, "k")
    val before = Stats.readHllDistinct(spark, s"$base/hll").collect().toSeq
    val nRegs = Stats.compactHllIndex(spark, s"$base/hll", s"$base/hll2")
    assert(Stats.readHllDistinct(spark, s"$base/hll2").collect().toSeq ==
      before)
    assert(nRegs <= 4096L && dataFiles(s"$base/hll2") == 1)
    // streaming-layout HLL log: compaction keeps the __batch layout,
    // stamped with the newest id it covers, so later appends compose
    val pMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("p", 12L).build() // the distinctCountStream stamp
    for ((b, i) <- Seq(b1, b2).zipWithIndex)
      graft.streaming.LogStructuredSink.write(
        Stats.hllRegisters(b, "k")
          .select(col("__b").as("__b", pMeta), col("__m")),
        s"$base/hllb", i.toLong)
    val beforeB = Stats.readHllDistinct(spark, s"$base/hllb").collect().toSeq
    Stats.compactHllIndex(spark, s"$base/hllb", s"$base/hllb2")
    assert(new java.io.File(s"$base/hllb2/__batch=1").isDirectory)
    assert(Stats.readHllDistinct(spark, s"$base/hllb2").collect().toSeq ==
      beforeB)
    // CMS cell log: summed cells serve the exact pass identically
    val corpus = (Seq.fill(60)("hot") ++ Seq.fill(30)("warm") ++
      (0 until 40).map(i => s"c$i")).toDF("k")
    Stats.writeCmsIndex(corpus, "k", s"$base/cms")
    Stats.appendCmsIndex(spark, s"$base/cms", corpus, "k")
    val both = corpus.union(corpus)
    val hhBefore = Stats.heavyHittersFromIndex(spark, s"$base/cms", both,
      "k", 0.2).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Stats.compactCmsIndex(spark, s"$base/cms", s"$base/cms2")
    val hhAfter = Stats.heavyHittersFromIndex(spark, s"$base/cms2", both,
      "k", 0.2).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hhAfter == hhBefore && hhAfter == Map("hot" -> 120L, "warm" -> 60L))
    assert(dataFiles(s"$base/cms2") == 1)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("compactTopKLog: folded partials re-rank to the identical " +
       "leaderboard; O(1) files under the kept __batch layout") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-tkc").toString
    val order = Seq(("score", false), ("id", true))
    val b0 = Seq(("g1", 1L, 9.0), ("g1", 2L, 7.0), ("g1", 3L, 5.0),
      ("g2", 4L, 1.0)).toDF("g", "id", "score")
    val b1 = Seq(("g1", 5L, 8.0), ("g2", 6L, 2.0)).toDF("g", "id", "score")
    for ((b, i) <- Seq(b0, b1).zipWithIndex)
      graft.streaming.LogStructuredSink.write(
        GroupedTopK.topK(b, Seq("g"), order, 2).drop("rank"),
        s"$base/log", i.toLong)
    def view(p: String) = spark.read.parquet(p).drop("__batch")
    val before = GroupedTopK.topK(view(s"$base/log"), Seq("g"), order, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    val kept = GroupedTopK.compactTopKLog(spark, s"$base/log",
      s"$base/log2", Seq("g"), order, 2)
    assert(kept == 4L) // ≤ k per group after the fold
    assert(new java.io.File(s"$base/log2/__batch=1").isDirectory)
    val after = GroupedTopK.topK(view(s"$base/log2"), Seq("g"), order, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    assert(after == before &&
      after == Set(("g1", 1L, 1), ("g1", 5L, 2), ("g2", 6L, 1), ("g2", 4L, 2)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("hllOverlap: inclusion-exclusion tracks true overlap; disjoint and " +
       "identical sets hit the envelope edges") {
    import spark.implicits._
    val a = (0 until 6000).map(i => s"k-$i").toDF("k")      // |A| = 6000
    val b = (3000 until 9000).map(i => s"k-$i").toDF("k")   // |B| = 6000, ∩ = 3000
    val r = Stats.hllOverlap(a, b, "k").collect().head
    val (ea, eb, eu, ei, j) = (r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(math.abs(ea - 6000) / 6000 < 0.05 && math.abs(eb - 6000) / 6000 < 0.05)
    assert(math.abs(eu - 9000) / 9000 < 0.05)
    // intersection subtracts three ~1.6% estimates — wider envelope
    assert(math.abs(ei - 3000) / 3000 < 0.15, s"intersection $ei")
    assert(math.abs(j - 3000.0 / 9000) < 0.05, s"jaccard $j")
    // identical sets: union registers == side registers, J ≈ 1 exactly
    // (est_a == est_union bit-identically, so inclusion-exclusion is exact)
    val same = Stats.hllOverlap(a, a, "k").collect().head
    assert(same.getDouble(1) == same.getDouble(3) &&
      same.getDouble(5) == 1.0)
    // disjoint sets: intersection clamps at >= 0
    val disj = Stats.hllOverlap(a,
      (20000 until 26000).map(i => s"k-$i").toDF("k"), "k").collect().head
    assert(disj.getDouble(4) >= 0.0 &&
      disj.getDouble(4) / disj.getDouble(3) < 0.05)
  }

  test("validate: null rule outcomes fail closed; violations keep rule order") {
    import spark.implicits._
    val rows = Seq(
      (1L, Some(5.0), Some("ok")),
      (2L, Some(-1.0), Some("ok")),    // fails range
      (3L, None, Some("ok")),          // null value → range fails closed
      (4L, Some(5.0), None),           // null tag → pattern fails closed
      (5L, Some(-2.0), Some("bad")))   // fails both
      .toDF("id", "v", "tag")
    val out = Stats.validate(rows, Seq(
        "range" -> (col("v") >= 0.0),
        "pattern" -> (col("tag") === "ok")))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Boolean]("is_valid"), r.getAs[String]("violations"))).toMap
    assert(out == Map(
      1L -> (true, ""),
      2L -> (false, "range"),
      3L -> (false, "range"),
      4L -> (false, "pattern"),
      5L -> (false, "range,pattern")))
    // pure projection: no exchange in the plan
    val plan = Stats.validate(rows, Seq("r" -> (col("v") >= 0.0)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("snapshotDiff: insert/delete/update with null-safe column lists; unchanged silent") {
    import spark.implicits._
    val old = Seq(
      (1L, Some("a"), Some(1.0)), (2L, Some("b"), None),
      (3L, Some("c"), Some(3.0)), (4L, None, Some(4.0)))
      .toDF("k", "s", "v")
    val nw = Seq(
      (1L, Some("a"), Some(1.0)),          // unchanged → silent
      (2L, Some("b"), Some(2.0)),          // null → value: update v
      (3L, Some("x"), Some(9.0)),          // both cols change
      (5L, Some("e"), None))               // insert; 4 deleted
      .toDF("k", "s", "v")
    val out = Materialize.snapshotDiff(old, nw, Seq("k"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out == Map(
      2L -> ("update", "v"),
      3L -> ("update", "s,v"),
      4L -> ("delete", ""),
      5L -> ("insert", "")))
    // one-side-only columns are ignored, keys compared data-wise
    val extra = nw.withColumn("added", lit(7))
    assert(Materialize.snapshotDiff(old, extra, Seq("k"))
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L, 5L))
  }

  test("qualityBuckets: equal-frequency terciles per group; approx path agrees on monotonicity") {
    import spark.implicits._
    // lang A: 6 docs with strictly increasing rarity (nll) by repeating
    // the common token less; lang B: 3 docs — buckets normalize per lang
    val docs = Seq(
      (1L, "a", "c c c c c c"), (2L, "a", "c c c c c r1"),
      (3L, "a", "c c c c r1 r2"), (4L, "a", "c c c r1 r2 r3"),
      (5L, "a", "c c r1 r2 r3 r4"), (6L, "a", "c r1 r2 r3 r4 r5"),
      (7L, "b", "c c c c c c"), (8L, "b", "c c c r6 r7 r8"),
      (9L, "b", "r9 r9 r9 r9 r9 r9")).toDF("doc_id", "lang", "text")
    val exact = Text.qualityBuckets(docs, "text", "doc_id", "lang", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("bucket")).toMap
    // lang b ordering: doc7 all-common (low nll) < doc9 (r9 appears 6x
    // in the corpus) < doc8 (three singleton tokens) — corpus-level
    // counts, not per-doc rarity, drive the score
    assert(exact == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 3, 6L -> 3,
      7L -> 1, 9L -> 2, 8L -> 3))
    // approx path: same columns; buckets monotone in nll within a group
    val approx = Text.qualityBuckets(docs, "text", "doc_id", "lang",
        k = 3, exact = false)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Double]("nll"),
        r.getAs[Int]("bucket")))
    approx.groupBy(_._1).values.foreach { g =>
      val buckets = g.sortBy(_._2).map(_._3).toSeq
      assert(buckets == buckets.sorted, buckets.toString)
    }
    assert(approx.map(_._3).toSet.subsetOf(Set(1, 2, 3)))
  }

  test("retentionCohorts: hand-computed cells; NTZ input matches LTZ") {
    import spark.implicits._
    import java.time.LocalDateTime
    // week 2926 starts 2026-01-29 (epoch-µs grid); users:
    //  u1 active weeks w, w+1, w+3 ; u2 active w+1 only ; u3 w, w (dup)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (1L, t("2026-02-01 10:00:00")), (1L, t("2026-02-08 09:00:00")),
      (1L, t("2026-02-22 23:59:59")), (2L, t("2026-02-08 00:00:00")),
      (3L, t("2026-02-01 00:00:00")), (3L, t("2026-02-03 12:00:00")))
    val ltz = rows.toDF("user_id", "ts")
    val out = Sessions.retentionCohorts(ltz)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w1 = rows.head._2.getTime / 1000 * 1000000L / 604800000000L
    val w2 = rows(3)._2.getTime / 1000 * 1000000L / 604800000000L
    assert(w2 == w1 + 1)
    assert(out == Map((w1, 0L) -> 2L, (w1, 1L) -> 1L, (w1, 3L) -> 1L,
      (w2, 0L) -> 1L))
    // same instants as NTZ (UTC wall clock) → identical table
    val ntz = rows.map { case (u, ts) =>
      (u, LocalDateTime.ofInstant(ts.toInstant, java.time.ZoneOffset.UTC)) }
      .toDF("user_id", "ts")
    assert(ntz.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val outNtz = Sessions.retentionCohorts(ntz)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(outNtz == out)
  }

  test("labelPropagation: bridged triangles split into two communities; hand-traced rounds") {
    import spark.implicits._
    // two triangles {1,2,3} and {4,5,6} bridged by 3-4: one connected
    // component, but the majority vote keeps two communities
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    def labels(iters: Int) =
      Graph.labelPropagation(edges, "a", "b", iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-simulated synchronous rounds with min tie-break:
    assert(labels(0) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 6L -> 6L))
    assert(labels(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L, 6L -> 4L))
    assert(labels(3) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    // self-loops and duplicate edges are ignored
    val noisy = edges.union(Seq((1L, 1L), (2L, 3L)).toDF("a", "b"))
    assert(Graph.labelPropagation(noisy, "a", "b", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == labels(3))
  }

  test("labelPropagation: gated driver path equals the distributed path on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 25
      val edges = (0 until n * 3)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .toDF("a", "b")
      val gated = Graph.labelPropagation(edges, "a", "b", 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Graph.labelPropagation(edges, "a", "b", 3, collectThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gated == dist, s"trial $trial")
    }
    // mixed id widths: int src over long dst — gated output dtype must
    // match the distributed path's union-coerced dtype (the bfsHops pin)
    val mixed = Seq((1, 2L), (2, 3L), (3, 1L)).toDF("a", "b")
    val g = Graph.labelPropagation(mixed, "a", "b", 3)
    val d = Graph.labelPropagation(mixed, "a", "b", 3, collectThreshold = 0L)
    assert(g.schema("node").dataType == d.schema("node").dataType)
    assert(g.schema("label").dataType == d.schema("label").dataType)
    assert(g.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // non-integral ids: must take the distributed path, not a driver
    // collect that null-casts to long
    val strIds = Seq(("n1", "n2"), ("n2", "n3")).toDF("a", "b")
    assert(Graph.labelPropagation(strIds, "a", "b", 1).count() == 3)
  }

  test("pageRank/pageRankWeighted: gated driver loop equals the distributed path at 10dp") {
    import spark.implicits._
    val rnd = new scala.util.Random(7171)
    def cmp(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.collect().map(r => r.get(0).toString -> BigDecimal(r.getDouble(1))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    for (trial <- 0 until 3) {
      val n = 40 + trial * 25
      // STRING ids — the q111 shape the gate must cover
      val edges = (0 until n * 3)
        .map(_ => (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}"))
        .toDF("a", "b")
      assert(cmp(Graph.pageRank(edges, "a", "b", iters = 3)) ==
        cmp(Graph.pageRank(edges, "a", "b", iters = 3, collectThreshold = 0L)),
        s"trial $trial")
      val wEdges = (0 until n * 3)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
          1.0 + rnd.nextInt(5)))
        .toDF("a", "b", "w")
      assert(cmp(Graph.pageRankWeighted(wEdges, "a", "b", "w", iters = 3)) ==
        cmp(Graph.pageRankWeighted(wEdges, "a", "b", "w", iters = 3,
          collectThreshold = 0L)), s"weighted trial $trial")
    }
    // mixed id widths: int src over long dst — the gated dictionary must
    // encode int 2 and long 2 as ONE node (union-coerced cast before
    // collect) and land on the distributed output dtype
    val mixed = Seq((1, 2L), (2, 3L), (3, 1L)).toDF("a", "b")
    val g = Graph.pageRank(mixed, "a", "b", iters = 2)
    val d = Graph.pageRank(mixed, "a", "b", iters = 2, collectThreshold = 0L)
    assert(g.schema("node").dataType == d.schema("node").dataType)
    assert(cmp(g) == cmp(d))
    assert(g.count() == 3)
  }

  test("pageRank matches a sequential reference; undirected mass conserves") {
    import spark.implicits._
    // star (center 0, leaves 1-3) + a 2-cycle (10, 11), symmetrized
    val undirected = Seq((0L, 1L), (0L, 2L), (0L, 3L), (10L, 11L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val out = Graph.pageRank(undirected.toDF("src", "dst"), "src", "dst",
        iters = 3, damping = 0.85)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // sequential reference: identical formula, identical iteration count
    def ref(edges: Seq[(Long, Long)], iters: Int, d: Double): Map[Long, Double] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val n = nodes.size.toDouble
      val outdeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
      var r = nodes.map(_ -> 1.0 / n).toMap
      (0 until iters).foreach { _ =>
        val im = edges.groupBy(_._2).view.mapValues(
          _.map { case (u, _) => r(u) / outdeg(u) }.sum).toMap
        r = nodes.map(v => v -> ((1.0 - d) / n + d * im.getOrElse(v, 0.0))).toMap
      }
      r
    }
    val expect = ref(undirected, 3, 0.85)
    assert(out.keySet == expect.keySet)
    out.foreach { case (v, rk) => assert(math.abs(rk - expect(v)) < 1e-12, s"node $v") }
    // undirected graph: no dangling mass, Σ rank == 1
    assert(math.abs(out.values.sum - 1.0) < 1e-12)
    // symmetric leaves tie exactly; the hub outranks them
    assert(out(1L) == out(2L) && out(2L) == out(3L))
    assert(out(0L) > out(1L))
    // dangling semantics on a DIRECTED chain a->b: b absorbs, a keeps base
    val dir = Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst",
      iters = 1, damping = 0.85).collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(math.abs(dir(1L) - 0.15 / 2) < 1e-15)
    assert(math.abs(dir(2L) - (0.15 / 2 + 0.85 * 0.5)) < 1e-15)
  }

  test("triangleCounts matches brute force; canonicalization; skew orientation") {
    import spark.implicits._
    // K4 on 1-4 (4 triangles, 3 per node) + triangle 5-6-7 + dangling
    // edge 7-8; plus a reversed duplicate, an exact duplicate, and a
    // self-loop that canonicalization must erase
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L), (7L, 8L),
      (2L, 1L), (5L, 6L), (9L, 9L))
    val out = Graph.triangleCounts(edges.toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // brute-force reference over all node triples
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    val nodes = canon.flatMap(e => Set(e._1, e._2)).toSeq.sorted
    val expect = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      a <- nodes; b <- nodes if a < b; c <- nodes if b < c
      if canon((a, b)) && canon((b, c)) && canon((a, c))
    } { expect(a) += 1; expect(b) += 1; expect(c) += 1 }
    assert(out == expect.toMap)
    assert(out(1L) == 3 && out(5L) == 1 && !out.contains(8L) && !out.contains(9L))
    // star (hub 0, leaves 1-100) + one leaf-leaf edge: exactly one
    // triangle — and the hub's high degree must not explode the wedge set
    val star = (1L to 100L).map(l => (0L, l)) :+ (1L, 2L)
    val s = Graph.triangleCounts(star.toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
    // over-gate path (broadcastThreshold = 0): identical counts, and the
    // closing join is a SHUFFLE-HASH join — never an SMJ, whose external
    // sort of the wedge stream is the disk-killer at 100× (sf10 finding)
    val big = Graph.triangleCounts(edges.toDF("id_a", "id_b"),
      broadcastThreshold = 0L)
    val plan = big.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    assert(big.collect().map(r => (r.getLong(0), r.getLong(1))).toMap == out)
  }

  // -------------------------------------------------- funnel

  test("funnel: strict ordered first-completion minima, out-of-order misses") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      // user 1 completes all three in order (second purchase later ignored)
      (1L, ts(10), "view"), (1L, ts(20), "click"), (1L, ts(30), "purchase"),
      (1L, ts(40), "purchase"),
      // user 2: click BEFORE the first view → funnel stops at view
      (2L, ts(10), "click"), (2L, ts(20), "view"), (2L, ts(30), "purchase"),
      // user 3: no view at all → stage 0
      (3L, ts(5), "click"), (3L, ts(6), "purchase"),
      // user 4: view then purchase, no click → stage 1
      (4L, ts(1), "view"), (4L, ts(2), "purchase"),
      // user 5: simultaneous view+click (strict > excludes the tie)
      (5L, ts(7), "view"), (5L, ts(7), "click"))
      .toDF("user_id", "ts", "event_type")
    val out = Sessions.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), Option(r.getTimestamp(2)), Option(r.getTimestamp(3)),
          Option(r.getTimestamp(4))))).toMap
    assert(out(1L) == ((3L, Some(ts(10)), Some(ts(20)), Some(ts(30)))))
    // user 2's purchase at 30 counts only if a click follows the view:
    // no click after ts(20) → stage 1
    assert(out(2L) == ((1L, Some(ts(20)), None, None)))
    assert(out(3L) == ((0L, None, None, None)))
    assert(out(4L) == ((1L, Some(ts(1)), None, None)))
    assert(out(5L) == ((1L, Some(ts(7)), None, None)))
  }

  // -------------------------------------------------- weighted sampling

  test("weightedKey: Efraimidis-Spirakis parity with a direct reference") {
    import spark.implicits._
    val items = (0L until 200L).map(i => (i, 1L + (i % 7) * 100L))
    val df = items.toDF("id", "w")
    val got = Sampling.weightedKey(df, "id", "w")
      .orderBy(desc("__wkey"), asc("id")).limit(25)
      .select("id").as[Long].collect().toSeq
    def key(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 8), 16)
      math.log((h.toDouble + 0.5) / 4294967296.0) / w.toDouble
    }
    val expect = items.sortBy { case (id, w) => (-key(id, w), id) }.take(25).map(_._1)
    assert(got == expect)
    // zero/null weights drop; a dominant weight is (near-)always selected
    val edge = Seq((1L, 0L), (2L, -5L), (3L, 1000000L)).toDF("id", "w")
    val keyed = Sampling.weightedKey(edge, "id", "w").select("id").as[Long].collect()
    assert(keyed.toSet == Set(3L))
  }

  // -------------------------------------------------- vocab / entropy

  test("heavyHitters: exact output even with a colliding 1-row sketch") {
    import spark.implicits._
    // 100×"hot", 50×"warm", 1× each of 30 cold keys → N=180
    val vals = Seq.fill(100)("hot") ++ Seq.fill(50)("warm") ++
      (0 until 30).map(i => s"cold$i")
    val df = vals.toDF("k")
    def run(depth: Int, width: Int, support: Double) =
      Stats.heavyHitters(df, "k", support, depth, width)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // support 0.25 → threshold 45: hot and warm qualify exactly
    val exact = Map("hot" -> 100L, "warm" -> 50L)
    assert(run(4, 8192, 0.25) == exact)
    // width 1: every key collides into one cell (est = N for all) —
    // the sketch prunes nothing but the exact pass still drops cold keys
    assert(run(1, 1, 0.25) == exact)
    // threshold boundary inclusive: support 50/180 keeps warm
    assert(run(4, 8192, 50.0 / 180.0) == exact)
    assert(run(4, 8192, 51.0 / 180.0) == Map("hot" -> 100L))
    // a wide sketch really prunes: only hot/warm occurrences survive
    // the estimate filter (checked via the candidate estimates)
    val n = df.count()
    assert(run(4, 1 << 20, 100.0 / 180.0) == Map("hot" -> 100L))
  }

  test("tfidfCosinePairs: equals dense cosine; maxDf drops hot terms from index and norms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta gamma"),
      (3L, "delta epsilon zeta"),
      (4L, "delta epsilon zeta zeta"),
      (5L, "alpha delta")).toDF("doc_id", "text")
    // dense reference: per-doc tfidf vectors over the full vocab
    val n = 5.0
    val corpus = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).split("\\s+").toSeq).toMap
    val dfm = corpus.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, o) => t -> o.size }
    def vec(id: Long, cap: Int): Map[String, Double] =
      corpus(id).groupBy(identity).collect {
        case (t, o) if dfm(t) <= cap =>
          t -> o.size * (math.log((n + 1) / (dfm(t) + 1.0)) + 1.0)
      }
    def cos(a: Map[String, Double], b: Map[String, Double]): Double = {
      val dot = a.keySet.intersect(b.keySet).toSeq.sorted
        .map(t => a(t) * b(t)).sum
      val na = math.sqrt(a.values.map(x => x * x).sum)
      val nb = math.sqrt(b.values.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    def expected(thr: Double, cap: Int) = (for {
      a <- corpus.keys; b <- corpus.keys if a < b
      c = cos(vec(a, cap), vec(b, cap)) if c >= thr
    } yield (a, b)).toSet
    for ((thr, cap) <- Seq((0.5, 100), (0.9, 100), (0.5, 2))) {
      val got = Text.tfidfCosinePairs(docs, "text", "doc_id", thr, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected(thr, cap), s"thr=$thr cap=$cap")
      val gotCos = Text.tfidfCosinePairs(docs, "text", "doc_id", thr, cap)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      gotCos.foreach { case ((a, b), c) =>
        assert(math.abs(c - cos(vec(a, cap), vec(b, cap))) < 1e-9) }
    }
  }

  test("tokenDrift: hand-computed KL and TVD, zero on identical slices") {
    import spark.implicits._
    // a: tokens {x, x, y} ; b: tokens {x, z} → union vocab {x, y, z}, V=3
    // p = (2+1)/6, (1+1)/6, (0+1)/6 ; q = (1+1)/5, (0+1)/5, (1+1)/5
    val a = Seq(Tuple1("x x y")).toDF("text")
    val b = Seq(Tuple1("x z")).toDF("text")
    val r = Stats.tokenDrift(a, b, "text").head()
    assert(r.getAs[Long]("vocab_size") == 3L)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    val p = Seq(3.0 / 6, 2.0 / 6, 1.0 / 6)
    val q = Seq(2.0 / 5, 1.0 / 5, 2.0 / 5)
    def kl(u: Seq[Double], v: Seq[Double]) =
      u.zip(v).map { case (x, y) => x * math.log(x / y) }.sum
    assert(math.abs(r.getAs[Double]("kl_ab") - kl(p, q)) < 1e-12)
    assert(math.abs(r.getAs[Double]("kl_ba") - kl(q, p)) < 1e-12)
    val tvd = p.zip(q).map { case (x, y) => math.abs(x - y) }.sum / 2
    assert(math.abs(r.getAs[Double]("tvd") - tvd) < 1e-12)
    // identical slices → exactly zero drift
    val z = Stats.tokenDrift(a, a, "text").head()
    assert(z.getAs[Double]("kl_ab") == 0.0 && z.getAs[Double]("tvd") == 0.0)
  }

  test("tenth-wave operators: empty inputs yield empty (or zero-drift) results, no crashes") {
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyKv = Seq.empty[(Long, String, Double)].toDF("k", "s", "v")
    assert(Dedup.setSimJoin(emptyDocs, "doc_id", "text", 0.8).count() == 0)
    assert(Text.tfidfCosinePairs(emptyDocs, "text", "doc_id", 0.8, 100).count() == 0)
    assert(Text.qualityBuckets(emptyDocs, "text", "doc_id", "doc_id").count() == 0)
    assert(Stats.heavyHitters(emptyKv, "s", 0.5).count() == 0)
    assert(Stats.winsorize(emptyKv, Seq("s"), "v").count() == 0)
    assert(Materialize.snapshotDiff(emptyKv, emptyKv, Seq("k")).count() == 0)
    assert(Stats.validate(emptyKv, Seq("r" -> ($"v" > 0))).count() == 0)
    assert(Graph.labelPropagation(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b", 3).count() == 0)
    // drift of a non-empty slice against an empty one stays finite:
    // smoothing puts all q-mass at 1/V per token
    val one = Seq(Tuple1("x y")).toDF("text")
    val drift = Stats.tokenDrift(one, one.limit(0), "text").head()
    assert(!drift.getAs[Double]("kl_ab").isNaN &&
      !drift.getAs[Double]("kl_ab").isInfinite)
    // EMPTY train corpus: the floored backoff divisor scores ln(alpha)
    // per pair instead of crashing on ANSI divide-by-zero
    val scored = Text.bigramLm(Seq((1L, "a b")).toDF("doc_id", "text"),
      emptyDocs, "text", "doc_id").collect()
    assert(scored.length == 1)
    assert(math.abs(scored(0).getDouble(2) - math.log(0.4)) < 1e-12)
  }

  test("setSimJoin: recall-1 on seeded random corpora at three thresholds") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val vocabSize = 6 + rnd.nextInt(20)
      val docs = (0 until 30).map { i =>
        val n = 2 + rnd.nextInt(12)
        (i.toLong, Seq.fill(n)(s"w${rnd.nextInt(vocabSize)}").mkString(" "))
      }.toDF("doc_id", "text")
      val sets = docs.select($"doc_id",
        array_distinct(split(trim($"text"), "\\s+")).as("g"))
      val brute = sets.select($"doc_id".as("id_a"), $"g".as("ga"))
        .crossJoin(sets.select($"doc_id".as("id_b"), $"g".as("gb")))
        .filter($"id_a" < $"id_b")
        .select($"id_a", $"id_b",
          (size(array_intersect($"ga", $"gb")).cast("double") /
            size(array_union($"ga", $"gb"))).as("j"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      for (t <- Seq(0.4, 0.7, 0.95)) {
        val expect = brute.filter(_._3 >= t).map(x => (x._1, x._2)).toSet
        val got = Dedup.setSimJoin(docs, "doc_id", "text", t)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == expect, s"trial=$trial t=$t")
      }
    }
  }

  test("snapshotDiff: symmetric under swap; self-diff empty") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val a = (0 until 200).map(i =>
      (i.toLong, rnd.nextInt(5).toString, rnd.nextInt(100).toDouble))
      .toDF("k", "s", "v")
    val b = (50 until 250).map(i =>
      (i.toLong, rnd.nextInt(5).toString, rnd.nextInt(100).toDouble))
      .toDF("k", "s", "v")
    assert(Materialize.snapshotDiff(a, a, Seq("k")).count() == 0)
    val ab = Materialize.snapshotDiff(a, b, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ba = Materialize.snapshotDiff(b, a, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ab.keySet == ba.keySet)
    ab.foreach { case (k, ct) =>
      val expected = ct match {
        case "insert" => "delete"
        case "delete" => "insert"
        case other => other
      }
      assert(ba(k) == expected, s"k=$k")
    }
  }

  test("setSimJoin: prefix filtering equals brute force, boundary inclusive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),       // vs 2: inter 4, union 6 → 2/3
      (2L, "a b c d x"),
      (3L, "a b c d e"),       // vs 1: jaccard 1.0
      (4L, "p q r s t u v w"), // vs 5: inter 4, union 12 → 1/3 (excluded at 0.5)
      (5L, "p q r s m n o k"),
      (6L, "z"),               // singleton, no qualifying partner
      (7L, "a b c"))           // vs 1: inter 3, union 5 → 0.6
    .toDF("doc_id", "text")
    def brute(t: Double) = {
      val sets = docs.select($"doc_id",
        array_distinct(split(trim($"text"), "\\s+")).as("g"))
      sets.select($"doc_id".as("id_a"), $"g".as("ga"))
        .crossJoin(sets.select($"doc_id".as("id_b"), $"g".as("gb")))
        .filter($"id_a" < $"id_b")
        .select($"id_a", $"id_b",
          (size(array_intersect($"ga", $"gb")).cast("double") /
            size(array_union($"ga", $"gb"))).as("j"))
        .filter($"j" >= t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    Seq(0.5, 2.0 / 3.0, 0.9).foreach { t =>
      val got = Dedup.setSimJoin(docs, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
      assert(got == brute(t), s"threshold $t")
    }
    // boundary: the exact-2/3 pair survives a 2/3 threshold (>= not >)
    assert(Dedup.setSimJoin(docs, "doc_id", "text", 2.0 / 3.0)
      .filter($"id_a" === 1L && $"id_b" === 2L).count() == 1L)
  }

  test("bigramLm: stupid backoff hits both paths, hand-computed") {
    import spark.implicits._
    // train: doc0 "a b a b", doc2 "b c" → N=6, V=3; uni a=2 b=3 c=1;
    // bigrams c(a,b)=2, c(b,a)=1, c(b,c)=1
    val docs = Seq((0L, "a b a b"), (1L, "a b x"), (2L, "b c"))
      .toDF("doc_id", "text")
    val out = Text.bigramLm(docs, docs.filter($"doc_id" % 2 === 0),
        "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // doc0: (a,b)=2/2, (b,a)=1/3, (a,b)=2/2 → avg(ln) = ln(1/3)/3
    assert(out(0L)._1 == 3L)
    assert(math.abs(out(0L)._2 - math.log(1.0 / 3.0) / 3.0) < 1e-12)
    // doc1: (a,b) seen → ln 1 = 0; (b,x) unseen, x unseen in train →
    // backoff 0.4·(0+1)/(6+3)
    assert(out(1L)._1 == 2L)
    assert(math.abs(out(1L)._2 - math.log(0.4 / 9.0) / 2.0) < 1e-12)
    // doc2: (b,c) = 1/3 exactly
    assert(out(2L)._1 == 1L)
    assert(math.abs(out(2L)._2 - math.log(1.0 / 3.0)) < 1e-12)
    // self-trained: every bigram seen → backoff never fires, all finite
    val self = Text.bigramLm(docs, docs, "text", "doc_id").collect()
    assert(self.length == 3 && self.forall(r => !r.getDouble(2).isNaN))
  }

  test("vocabOovRate: deterministic top-k boundary, exact fractions") {
    import spark.implicits._
    val docs = Seq((1L, "a a b c"), (2L, "a d")).toDF("doc_id", "text")
    // counts: a:3, b:1, c:1, d:1 → top-2 = (a, b) via (count desc, word asc)
    val out = Text.vocabOovRate(docs, "text", "doc_id", 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((4L, 0.25)))  // only "c" is OOV
    assert(out(2L) == ((2L, 0.5)))   // "d" is OOV
  }

  test("connectedComponentsConverged: long chains converge exactly") {
    import spark.implicits._
    // a 120-hop chain (diameter far beyond any fixed round count) plus a
    // separate triangle; pointer jumping must reach the fixpoint
    val chain = (0L until 120L).map(i => (i, i + 1))
    val tri = Seq((1000L, 1001L), (1001L, 1002L), (1000L, 1002L))
    val labels = Graph.connectedComponentsConverged(
        (chain ++ tri).toDF("id_a", "id_b"), maxRounds = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L to 120L).forall(labels(_) == 0L))
    assert(Seq(1000L, 1001L, 1002L).forall(labels(_) == 1000L))
    // fixed-round propagation on the same chain is NOT converged at 5
    // rounds — documenting why dbscan uses the converged variant
    val fixed = Graph.connectedComponents(chain.toDF("id_a", "id_b"), rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fixed(120L) != 0L)
    // the size-gated exact strategy: union-find path (gate open) and the
    // distributed path (gate forced shut) produce identical labels
    val uf = Graph.connectedComponentsExact((chain ++ tri).toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(uf == labels)
    val dist = Graph.connectedComponentsExact((chain ++ tri).toDF("id_a", "id_b"),
        collectThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dist == labels)
  }

  test("incremental agg state: N appends == one aggregation over the union") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_aggstate").toString
    val path = s"$base/state"
    def batch(rows: Seq[(String, Long)]) = rows.toDF("k", "v")
    val b1 = batch(Seq(("a", 5L), ("a", 7L), ("b", 1L)))
    val b2 = batch(Seq(("a", 2L), ("c", 9L)))
    val b3 = batch(Seq(("b", -4L), ("c", 9L), ("a", 100L)))
    Seq(b1, b2, b3).foreach(b =>
      Materialize.appendAggState(spark, path, b, Seq("k"), "v"))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val got = snap(Materialize.readAggState(spark, path, Seq("k"))
      .select(col("k"), col("n"), col("total"), col("min_val"), col("max_val"), col("avg")))
    val direct = snap(
      b1.unionByName(b2).unionByName(b3).groupBy("k")
        .agg(count(col("v")).as("n"), sum(col("v")).as("total"),
          min(col("v")).as("min_val"), max(col("v")).as("max_val"))
        .withColumn("avg", col("total") / col("n"))
        .select(col("k"), col("n"), col("total"), col("min_val"), col("max_val"), col("avg")))
    assert(got == direct)
    // the log holds one partial per (batch, key); compaction folds to one
    // per key and preserves the read view
    assert(spark.read.parquet(path).count() == 2 + 2 + 3)
    val nKeys = Materialize.compactAggState(spark, path, s"$base/state2", Seq("k"))
    assert(nKeys == 3L)
    assert(spark.read.parquet(s"$base/state2").count() == 3)
    val afterCompact = snap(Materialize.readAggState(spark, s"$base/state2", Seq("k"))
      .select(col("k"), col("n"), col("total"), col("min_val"), col("max_val"), col("avg")))
    assert(afterCompact == direct)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("rrfFuse + euclidean top-k: reference parity, both-list bonus") {
    import spark.implicits._
    // 1-d embeddings make distances eyeball-checkable
    val emb = Seq((0L, Array(0.0f)), (1L, Array(1.0f)), (2L, Array(3.0f)),
      (3L, Array(-2.0f)), (4L, Array(10.0f)))
      .toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 0L)
    val euc = Similarity.bruteForceTopKEuclidean(emb, q, "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Int]("rank") -> r.getLong(1))).toMap
    // distances from 0: id1→1, id3→4, id2→9, id4→100
    assert(euc == Map(1 -> 1L, 2 -> 3L, 3 -> 2L))
    // fusion: neighbor 1 in both lists, others in one each; scores exact
    val ra = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L))
      .toDF("query_id", "neighbor_id", "rank")
    val rb = Seq((0L, 1L, 2L), (0L, 4L, 1L))
      .toDF("query_id", "neighbor_id", "rank")
    val fused = Similarity.rrfFuse(Seq(ra, rb), k0 = 60, topK = 10)
      .collect().map(r => (r.getLong(1),
        (r.getDouble(2), r.getLong(3), r.getAs[Int]("rank")))).toMap
    assert(fused(1L) == ((1.0 / 61 + 1.0 / 62, 2L, 1)))
    assert(fused(4L) == ((1.0 / 61, 1L, 2)))
    assert(fused(2L) == ((1.0 / 62, 1L, 3)))
    assert(fused(3L) == ((1.0 / 63, 1L, 4)))
  }

  test("eval-gram index: flagsAgainstIndex == flags; append grows coverage") {
    import spark.implicits._
    def words(s: String, n: Int) = (1 to n).map(i => s + i).mkString(" ")
    val evalA = Seq((1L, words("qa", 10))).toDF("doc_id", "text")
    val evalB = Seq((2L, words("qb", 9))).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "intro " + words("qa", 10) + " outro"), // embeds benchmark A
      (11L, words("qb", 8)),                        // 8-gram of B verbatim
      (12L, words("qa", 7) + " clean tail here"),   // only 7 shared words
      (13L, "fully clean document " + words("zz", 12)))
      .toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_evalidx").toString
    val path = s"$base/grams"
    Decontaminate.writeEvalGramIndex(evalA, "text", path, n = 8)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val directA = snap(Decontaminate.flags(corpus, evalA, "text", "doc_id", 8))
    assert(snap(Decontaminate.flagsAgainstIndex(spark, path, corpus, "text", "doc_id"))
      == directA)
    assert(directA.contains(10L) && !directA.contains(12L) && !directA.contains(13L))
    // append benchmark B: parity with flags over the union, incl. doc 11
    Decontaminate.appendEvalGramIndex(spark, path, evalB, "text")
    val directAB = snap(Decontaminate.flags(corpus,
      evalA.unionByName(evalB), "text", "doc_id", 8))
    assert(snap(Decontaminate.flagsAgainstIndex(spark, path, corpus, "text", "doc_id"))
      == directAB)
    assert(directAB.contains(11L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("phraseMatches: overlaps, repeated-word slots, absent phrase") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x table table table y"), // starts 1,2 for "table table"
      (2L, "table x table"),         // adjacent pair absent
      (3L, "a b a b a"),             // "a b a" at starts 0 and 2
      (4L, "value table part end"),  // k=3 phrase at 0
      (5L, ""))
      .toDF("doc_id", "text")
    def m(p: String) = Text.phraseMatches(docs, "doc_id", "text", p)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getInt(2)))).toMap
    assert(m("table table") == Map(1L -> ((2L, 1))))
    assert(m("a b a") == Map(3L -> ((2L, 0))))
    assert(m("value table part") == Map(4L -> ((1L, 0))))
    assert(m("missing words") == Map.empty)
  }

  test("sharedSpanPairs: window counts, internal-repeat dedup, hot-span star") {
    import spark.implicits._
    val A = "A" * 64; val B = "B" * 64; val C = "C" * 64; val D = "D" * 64
    val docs = Seq(
      (1L, A + B),        // windows: A64, A32B32, B64
      (2L, A + C),        // shares A64 with 1
      (3L, A + B),        // exact copy of 1: shares all 3
      (4L, D + D),        // internal repeat: D64 counted ONCE
      (5L, D + "E" * 64), // shares D64 with 4 — once, not thrice
      (6L, "short"))      // under the window: no spans
      .toDF("doc_id", "text")
    val out = Dedup.sharedSpanPairs(docs, "doc_id", "text", 64, 32)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out == Map((1L, 2L) -> 1L, (1L, 3L) -> 3L, (2L, 3L) -> 1L,
      (4L, 5L) -> 1L))
    // hot-span guard: bound 1 turns an occupancy-3 span into a hub star
    val hotDocs = Seq((10L, A + B), (11L, A + C), (12L, A + D))
      .toDF("doc_id", "text")
    val hot = Dedup.sharedSpanPairs(hotDocs, "doc_id", "text", 64, 32,
        hotSpanBound = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(hot == Map((10L, 11L) -> 1L, (10L, 12L) -> 1L)) // no (11,12)
  }

  test("robustOutliers: median/MAD z, MAD=0 degenerate group") {
    import spark.implicits._
    val rows = ((1 to 9).map(i => ("a", i.toDouble)) :+ ("a", 100.0)) ++
      Seq(("b", 7.0), ("b", 7.0), ("b", 7.0))
    val out = Stats.robustOutliers(rows.toDF("g", "x"), Seq("g"), "x",
        threshold = 3.0)
      .collect().map(r => ((r.getString(0), r.getDouble(1)),
        (Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3)))).toMap
    // group a: median 5.5, MAD 2.5 → z(100) = 94.5/(1.4826*2.5) ≈ 25.5
    val z100 = (100.0 - 5.5) / (1.4826 * 2.5)
    assert(out(("a", 100.0)) == ((Some(z100), true)))
    assert(out(("a", 1.0))._2 == false)
    assert(math.abs(out(("a", 1.0))._1.get - (1.0 - 5.5) / (1.4826 * 2.5)) < 1e-15)
    // group b: constant → MAD 0 → null z, never flagged
    assert(out(("b", 7.0)) == ((None, false)))
  }

  test("scd2Apply: change suppression, chains, new keys, untouched keys") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val cur = Seq(
      // key 1: one closed + one open version
      (1L, "gold", d("2020-01-01"), Option(d("2021-01-01"))),
      (1L, "silver", d("2021-01-01"), None: Option[java.sql.Date]),
      // key 2: open, untouched by the batch
      (2L, "bronze", d("2020-06-01"), None),
      // key 3: open, batch restates the same value (pure no-op)
      (3L, "gold", d("2020-01-01"), None))
      .toDF("k", "tier", "valid_from", "valid_to")
    val ups = Seq(
      // key 1: no-op restate, then a real change, then another change
      (1L, "silver", d("2022-01-01")),
      (1L, "gold", d("2022-03-01")),
      (1L, "plat", d("2022-05-01")),
      // key 3: restated value — history must stay a single open row
      (3L, "gold", d("2022-02-02")),
      // key 4: brand new key, two changes
      (4L, "gold", d("2022-01-15")),
      (4L, "silver", d("2022-04-15")))
      .toDF("k", "tier", "ts")
    val out = Materialize.scd2Apply(cur, ups, "k", Seq("tier"), "ts")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toString,
        Option(r.getDate(3)).map(_.toString)))
      .toSet
    assert(out == Set(
      (1L, "gold", "2020-01-01", Some("2021-01-01")),   // closed passthrough
      (1L, "silver", "2021-01-01", Some("2022-03-01")), // closed by change
      (1L, "gold", "2022-03-01", Some("2022-05-01")),
      (1L, "plat", "2022-05-01", None),
      (2L, "bronze", "2020-06-01", None),               // untouched
      (3L, "gold", "2020-01-01", None),                 // no-op suppressed
      (4L, "gold", "2022-01-15", Some("2022-04-15")),   // new key chain
      (4L, "silver", "2022-04-15", None)))
    // exactly one open row per key, intervals abut with no gaps/overlaps
    val byKey = out.groupBy(_._1)
    byKey.values.foreach { vs =>
      assert(vs.count(_._4.isEmpty) == 1)
      val sorted = vs.toSeq.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._4.contains(b._3))
        case _ =>
      }
    }
  }

  test("fuzzyPairsEd1: deletion blocking has recall 1 vs brute force") {
    import spark.implicits._
    val names = Seq(
      (1L, "widget"), (2L, "widgets"),  // insertion
      (3L, "widget"),                   // exact dup of 1
      (4L, "wadget"),                   // substitution vs 1
      (5L, "idget"),                    // deletion vs 1
      (6L, "gadget"),                   // ed 2 vs widget — must NOT pair
      (7L, "ab"), (8L, "ba"),           // shared deletes, true ed 2 — reject
      (9L, ""), (10L, "a"))             // empty-string edge
    val df = names.toDF("id", "s")
    val got = Dedup.fuzzyPairsEd1(df, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      (a, sa) <- names; (b, sb) <- names if a < b
      d = lev(sa, sb) if d <= 1
    } yield (a, b, d.toLong)).toSet
    assert(got == expect)
    assert(!got.exists(p => p._1 == 7L && p._2 == 8L)) // "ab"/"ba" rejected
    assert(got.contains((9L, 10L, 1L)))                // "" vs "a"
  }

  test("fuzzyPairsEd1 hot-string guard: spam group emits hub star, cold groups stay exact") {
    import spark.implicits._
    // 400-clone template-spam name (the LSH spam-graph mirror), two cold
    // exact dups, an ed-1 neighbor of the cold pair, and an ed-1 neighbor
    // of the SPAM string itself
    val rows = Seq((1L, "widget"), (2L, "widget"), (3L, "widgets"),
        (5L, "spamnames")) ++
      (1000L until 1400L).map(i => (i, "spamname"))
    val df = rows.toDF("id", "s")
    val got = Dedup.fuzzyPairsEd1(df, "id", "s", hotStringBound = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // hot ed-0: exactly 399 member→keeper pairs, not 79,800 all-pairs
    val star = (1001L until 1400L).map(x => (1000L, x, 0L)).toSet
    assert(got.filter(p => p._1 >= 1000L && p._3 == 0L) == star)
    // hot ed-1: the spam group meets its ed-1 neighbor through the
    // KEEPER row alone — one pair, not 400
    assert(got.filter(p => p._2 >= 1000L && p._3 == 1L) == Set((5L, 1000L, 1L)))
    // cold groups keep exact semantics: the dup pair + both ed-1 pairs
    assert(got.filter(_._1 < 5L) == Set((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)))
    assert(got.size == 399 + 1 + 3)
  }

  test("fuzzyPairsEd1 auto bound: spam degrades to linear with NO knob; spam-free equals unguarded") {
    import spark.implicits._
    // spam among 2000 distinct names: p99.9 group size stays 1, the
    // derived bound sits at the floor of 64 — under the 400-clone group
    val normal = (0 until 2000).map(d => (d.toLong, s"name_$d"))
    val near = Seq((5000L, "name_7x")) // ed-1 of name_7
    val spam = (10000L until 10400L).map(i => (i, "template spam"))
    val auto = Dedup.fuzzyPairsEd1((normal ++ near ++ spam).toDF("id", "s"),
        "id", "s") // DEFAULT — no bound argument anywhere
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val spamPairs = auto.filter(_._1 >= 10000L).toSet
    assert(spamPairs == (10001L until 10400L).map(x => (10000L, x, 0L)).toSet,
      s"n=${spamPairs.size}")
    assert(auto.contains((7L, 5000L, 1L))) // cold ed-1 still exact
    // spam-free corpus: the auto-bound OUTPUT equals the unguarded plan's
    val cleanRows = ((0 until 300).map(d => (d.toLong, s"name_$d")) ++
      Seq((5000L, "name_7x"), (6000L, "name_7"))).toDF("id", "s")
    val a = Dedup.fuzzyPairsEd1(cleanRows, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val u = Dedup.fuzzyPairsEd1(cleanRows, "id", "s",
        hotStringBound = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == u && a.contains((7L, 6000L, 0L)))
  }

  test("wordEntropy: closed-form entropies") {
    import spark.implicits._
    val docs = Seq((1L, "a a b b"), (2L, "a"), (3L, "a b c")).toDF("doc_id", "text")
    val out = Text.wordEntropy(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 == 4L && math.abs(out(1L)._2 - math.log(2)) < 1e-12)
    assert(out(2L) == ((1L, 0.0)))
    assert(out(3L)._1 == 3L && math.abs(out(3L)._2 - math.log(3)) < 1e-12)
  }

  // ------------------------------------------------ eleventh wave

  test("histogramQuantiles: within one bin width of the exact rank value (seeded random)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1147)
    val (lo, hi, nBins) = (0.0, 100.0, 32)
    val w = (hi - lo) / nBins
    val data = Seq.tabulate(3000)(i =>
      (s"g${i % 3}", lo + rnd.nextDouble() * (hi - lo)))
    val df = data.toDF("g", "v")
    val pcts = Seq(0.5, 0.9, 0.99)
    val state = Stats.histogramState(df, Seq("g"), "v", lo, hi, nBins)
    val got = Stats.histogramQuantiles(state, Seq("g"), lo, hi, nBins, pcts)
      .collect().map(r => ((r.getString(0), r.getDouble(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    for (g <- Seq("g0", "g1", "g2"); p <- pcts) {
      val vals = data.filter(_._1 == g).map(_._2).sorted
      val exact = vals(math.ceil(p * vals.size).toInt - 1)
      val (n, est) = got((g, p))
      assert(n == vals.size)
      assert(exact <= est && est - exact <= w + 1e-9,
        s"$g p=$p est=$est exact=$exact w=$w")
    }
  }

  test("histogram state log: appends == union; indexed read == direct read") {
    import spark.implicits._
    val rnd = new scala.util.Random(2148)
    def batch(n: Int) = Seq.fill(n)(
      (s"g${rnd.nextInt(2)}", rnd.nextDouble() * 50.0)).toDF("g", "v")
    val (b1, b2, b3) = (batch(200), batch(150), batch(250))
    val all = b1.unionByName(b2).unionByName(b3)
    val path = java.nio.file.Files.createTempDirectory("graft_hist").toString + "/state"
    Materialize.createHistogramState(spark, path, b1, Seq("g"), "v", 0.0, 50.0, 16)
    Materialize.appendHistogramState(spark, path, b2, Seq("g"), "v")
    Materialize.appendHistogramState(spark, path, b3, Seq("g"), "v")
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("g", "__bin").agg(sum("__c").as("__c"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(cells(spark.read.parquet(path)) ==
      cells(Stats.histogramState(all, Seq("g"), "v", 0.0, 50.0, 16)))
    val viaLog = Materialize.readHistogramQuantiles(spark, path, Seq("g"), Seq(0.5, 0.9))
      .collect().map(r => ((r.getString(0), r.getDouble(1)), r.getDouble(3))).toSet
    val direct = Stats.histogramQuantiles(
        Stats.histogramState(all, Seq("g"), "v", 0.0, 50.0, 16),
        Seq("g"), 0.0, 50.0, 16, Seq(0.5, 0.9))
      .collect().map(r => ((r.getString(0), r.getDouble(1)), r.getDouble(3))).toSet
    assert(viaLog == direct)
  }

  test("kCore: matches a brute-force peel on seeded random graphs; empty edge cases") {
    import spark.implicits._
    val rnd = new scala.util.Random(3149)
    for (trial <- 0 until 3) {
      val n = 40
      val edges = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.12
      } yield (a.toLong, b.toLong)).toVector
      // brute-force peel to the fixpoint
      val adj = scala.collection.mutable.Map[Long, Set[Long]]()
        .withDefaultValue(Set.empty)
      edges.foreach { case (a, b) =>
        adj(a) = adj(a) + b; adj(b) = adj(b) + a
      }
      val k = 3
      var alive = adj.keySet.toSet
      var changed = true
      while (changed) {
        val next = alive.filter(v => (adj(v) & alive).size >= k)
        changed = next != alive
        alive = next
      }
      val expect = alive.map(v => (v, (adj(v) & alive).size.toLong)).toSet
      // default gate → driver bucket-queue peel
      val got = Graph.kCore(edges.toDF("a", "b"), "a", "b", k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expect, s"trial $trial (driver path)")
      // collectThreshold=0 forces the distributed loop → identical fixpoint
      val dist = Graph.kCore(edges.toDF("a", "b"), "a", "b", k,
          collectThreshold = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(dist == expect, s"trial $trial (distributed path)")
    }
    // no edges at all → empty result, no column errors
    assert(Graph.kCore(Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b", 2)
      .count() == 0L)
    // k larger than any degree → empty core (peels everything)
    assert(Graph.kCore(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b", 5)
      .count() == 0L)
  }

  test("canonicalizeUrl: case, ports, trackers, param sort, fragment, passthrough") {
    import spark.implicits._
    val cases = Seq(
      // lowercase scheme+host, default port dropped, params sorted, fragment dropped
      "HTTP://EXAMPLE.com:80/Path?b=2&a=1#frag" -> "http://example.com/Path?a=1&b=2",
      "HTTPS://X.COM:443/p" -> "https://x.com/p",
      // non-default port kept; non-http scheme's port untouched
      "https://x.com:8443/p?a=1" -> "https://x.com:8443/p?a=1",
      "ftp://X.com:21/a" -> "ftp://x.com:21/a",
      // empty path becomes /
      "https://x.com" -> "https://x.com/",
      "https://x.com?a=1" -> "https://x.com/?a=1",
      // trackers dropped (case-insensitive), emptied query drops its ?
      "http://x.com/a?utm_source=f&UTM_Medium=g&fbclid=z&Ref=c" -> "http://x.com/a",
      "http://x.com/a?gclid=1&z=9&msclkid=2" -> "http://x.com/a?z=9",
      // valueless params survive and sort; path case preserved
      "https://x.com/A/B?b&a" -> "https://x.com/A/B?a&b",
      // non-URLs pass through unchanged
      "not a url" -> "not a url",
      "example.com/no-scheme" -> "example.com/no-scheme")
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), Text.canonicalizeUrl(col("url")).as("canon"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) => assert(got(in) == want, s"input: $in") }
  }

  test("knnVote: majority wins, vote ties break to the smaller label") {
    import spark.implicits._
    // query 1: labels (0,0,1) → 0; query 2: (0,0,1,2) → 0 by majority
    val neighbors = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 10L, 1), (2L, 11L, 2), (2L, 13L, 3), (2L, 14L, 4))
      .toDF("query_id", "neighbor_id", "rank")
    val labels = Seq((10L, 0), (11L, 0), (12L, 1), (13L, 1), (14L, 2), (15L, 9))
      .toDF("id", "label")
    val got = Similarity.knnVote(neighbors, labels, "id", "label")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got == Map(1L -> 0, 2L -> 0))
    // real tie: two labels with two votes each → smaller label
    val nb2 = Seq((7L, 10L, 1), (7L, 11L, 2), (7L, 12L, 3), (7L, 13L, 4))
      .toDF("query_id", "neighbor_id", "rank")
    assert(Similarity.knnVote(nb2, labels, "id", "label")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap == Map(7L -> 0))
  }

  test("zipfSlope: matches a direct OLS over the ranked counts") {
    import spark.implicits._
    // one slice, known counts: a×8 b×4 c×2 d×1 → ranks 1..4
    val docs = Seq((1L, ("a " * 8 + "b " * 4 + "c c d").trim),
      (2L, "")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val row = Stats.zipfSlope(docs, Seq("lang"), "text", topN = 100)
      .collect().head
    assert(row.getLong(1) == 4L)
    val pts = Seq((8.0, 1.0), (4.0, 2.0), (2.0, 3.0), (1.0, 4.0))
      .map { case (c, r) => (math.log(r), math.log(c)) } // (x, y)
    val n = pts.size
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val icept = (sy - slope * sx) / n
    assert(math.abs(row.getDouble(2) - slope) < 1e-9)
    assert(math.abs(row.getDouble(3) - icept) < 1e-9)
  }

  // ------------------------------------------------ twelfth wave

  /** Sequential reference BPE (token lists, no string tricks) for
    * [[Text.bpeTrain]] parity. */
  private def bpeReference(words: Seq[(String, Long)],
                           merges: Int): Seq[(Int, String, String, Long)] = {
    var state = words.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val traj = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 0
    var done = false
    while (r < merges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (toks, f) =>
        toks.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, rr), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        traj += ((r + 1, l, rr, c))
        state = state.map { case (toks, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < toks.size) {
            if (i + 1 < toks.size && toks(i) == l && toks(i + 1) == rr) {
              out += l + rr; i += 2 // greedy left-to-right, non-overlapping
            } else { out += toks(i); i += 1 }
          }
          (out.toVector, f)
        }
        r += 1
      }
    }
    traj.toSeq
  }

  test("bpeTrain: matches a sequential token-list reference (classic + adversarial + random)") {
    import spark.implicits._
    def run(words: Seq[(String, Long)], merges: Int) = {
      val got = Text.bpeTrain(words.toDF("w", "f"), "w", "f", merges)
        .orderBy("merge_rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(got == bpeReference(words, merges), s"words=$words")
      got
    }
    // the Sennrich example shape
    run(Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L)), 6)
    // adversarial: after (a,b)→"ab", the word "abc" holds pair (ab, c);
    // a naive unpadded replace of the later (b,c) merge would corrupt it
    val adv = run(Seq(("ab", 10L), ("abc", 1L), ("zbc", 5L), ("bc", 4L)), 3)
    assert(adv.head._2 == "a" && adv.head._3 == "b")
    // overlapping same-pair runs: "aaaa" merges greedily left-to-right
    run(Seq(("aaaa", 3L), ("aaa", 2L)), 3)
    // seeded random corpora
    val rnd = new scala.util.Random(4150)
    for (_ <- 0 until 2) {
      val ws = (0 until 40).map(_ =>
        ((0 until (2 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString,
          (1 + rnd.nextInt(9)).toLong))
        .groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
      run(ws, 5)
    }
    // more merges than pairs exist: trajectory just stops
    assert(Text.bpeTrain(Seq(("a", 5L), ("b", 3L)).toDF("w", "f"), "w", "f", 4)
      .count() == 0L)
  }

  test("keepBest: per-cluster argmax with (score desc, id asc) ties") {
    import spark.implicits._
    val clustered = Seq(
      (1L, 100L, 10L), (2L, 100L, 30L), (3L, 100L, 30L), // tie at 30 → id 2
      (4L, 200L, 7L)) // singleton
      .toDF("doc_id", "cluster_id", "score")
    val got = Dedup.keepBest(clustered, "doc_id", "cluster_id", "score")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(100L -> ((3L, 2L, 30L)), 200L -> ((1L, 4L, 7L))))
  }

  test("benfordDigits: exact counts, zero/negative/null excluded, expected freqs") {
    import spark.implicits._
    val vals = Seq(1L, 19L, 123L, 2L, 25L, 3L, 999L, 0L, -5L) ++ Seq.empty[Long]
    val df = vals.map(Option(_)).:+(None: Option[Long]).toDF("v")
    val got = Stats.benfordDigits(df, "v")
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(1, 2, 3, 9))
    assert(got(1)._1 == 3L && got(2)._1 == 2L && got(3)._1 == 1L && got(9)._1 == 1L)
    assert(math.abs(got(1)._2 - 3.0 / 7.0) < 1e-15)
    assert(math.abs(got(1)._3 - math.log10(2.0)) < 1e-15)
    assert(math.abs(got(9)._3 - math.log10(10.0 / 9.0)) < 1e-15)
  }

  test("ewma: hand-computed fold, order by (ts, tie), single-event key") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1000L, 1L, 10.0), (1L, 2000L, 2L, 20.0), (1L, 3000L, 3L, 40.0),
      (1L, 2000L, 1L, 0.0), // same ts as event 2, smaller tie → folds BEFORE it
      (2L, 500L, 1L, 7.5))
      .toDF("user_id", "t", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("t")))
    val got = Sessions.ewma(ev, "user_id", "ts", "event_id", "value", alpha = 0.25)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // user 1 order: 10.0, 0.0, 20.0, 40.0
    val expect = Seq(0.0, 20.0, 40.0).foldLeft(10.0)((acc, x) => 0.25 * x + 0.75 * acc)
    assert(got(1L) == ((4L, expect)))
    assert(got(2L) == ((1L, 7.5)))
  }

  // ------------------------------------------------ thirteenth wave

  test("mojibake: artifact counts, clean text zero, empty text score") {
    import spark.implicits._
    val rows = Seq(
      (1L, "cafÃ© au lait"), // one artifact
      (2L, "â€œquotedâ€¦ naÃ¯ve ï¿½"), // four
      (3L, "perfectly clean ascii text"),
      (4L, "café naïve — genuine UTF-8 is NOT mojibake"),
      (5L, ""))
      .toDF("id", "t")
      .select(col("id"), Text.mojibakeCount(col("t")).as("n"),
        Text.mojibakeScore(col("t")).as("s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(rows(1L)._1 == 1L && rows(2L)._1 == 4L)
    assert(rows(3L)._1 == 0L && rows(4L)._1 == 0L)
    assert(rows(5L) == ((0L, 0.0)))
    assert(rows(1L)._2 == 1.0 / 13.0)
  }

  test("welchT: hand-computed statistic; degenerate sides yield null") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 6.0),
      ("b", 4.0), ("b", 5.0), ("b", 9.0), ("c", 100.0))
      .toDF("g", "v")
    val r = Stats.welchT(df, "g", "v", "a", "b").collect().head
    val (xa, xb) = (Seq(1.0, 2.0, 3.0, 6.0), Seq(4.0, 5.0, 9.0))
    def meanOf(x: Seq[Double]) = x.sum / x.size
    def varOf(x: Seq[Double]) = {
      val m = meanOf(x); x.map(v => (v - m) * (v - m)).sum / (x.size - 1)
    }
    val (sa, sb) = (varOf(xa) / xa.size, varOf(xb) / xb.size)
    val t = (meanOf(xa) - meanOf(xb)) / math.sqrt(sa + sb)
    val dof = (sa + sb) * (sa + sb) /
      (sa * sa / (xa.size - 1) + sb * sb / (xb.size - 1))
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L)
    assert(math.abs(r.getDouble(6) - t) < 1e-12)
    assert(math.abs(r.getDouble(7) - dof) < 1e-12)
    // one-element side → null t/dof, not ±Inf
    val d2 = Stats.welchT(df, "g", "v", "a", "c").collect().head
    assert(d2.isNullAt(6) && d2.isNullAt(7))
  }

  test("bootstrapMeanCI: deterministic, brackets the mean, exact n") {
    import spark.implicits._
    val rnd = new scala.util.Random(5151)
    val df = Seq.tabulate(400)(i => (s"g${i % 2}", s"k$i", 50.0 + rnd.nextGaussian() * 5))
      .toDF("g", "k", "v")
    def run() = Stats.bootstrapMeanCI(df, Seq("g"), "v", "k", replicas = 100)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val a = run()
    assert(a == run()) // same md5 draws every run
    for ((g, (n, mean, lo, hi)) <- a) {
      assert(n == 200L, g)
      assert(lo < mean && mean < hi, s"$g: [$lo, $hi] vs $mean")
      assert(hi - lo < 5.0, s"$g: CI implausibly wide [$lo, $hi]")
    }
  }

  test("aHash: matches an independent reference on random images; band pairs recall") {
    import spark.implicits._
    val rnd = new scala.util.Random(6157)
    // independent reference over a pixel matrix
    def refHash(px: Array[Array[Int]]): Long = {
      val (sh, sw) = (px.length, px(0).length)
      val g = for (y <- 0 until 8; x <- 0 until 8) yield {
        val rgb = px((y * sh / 8))((x * sw / 8))
        ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      }
      val total = g.map(_.toLong).sum
      g.zipWithIndex.foldLeft(0L) { case (h, (v, i)) =>
        if (64L * v > total) h | (1L << i) else h
      }
    }
    for (_ <- 0 until 5) {
      val (w, h) = (8 + rnd.nextInt(12), 8 + rnd.nextInt(12))
      val px = Array.fill(h, w)(rnd.nextInt(0x1000000))
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(y)(x))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      assert(Multimodal.aHashOf(out.toByteArray).contains(refHash(px)))
    }
    assert(Multimodal.aHashOf(null).isEmpty)
    assert(Multimodal.aHashOf("not a png".getBytes).isEmpty)
    // band-blocked pairs: hamming ≤3 always found (incl. bit-63 hashes);
    // a hamming-4 pair touching all four bands is out of contract
    val h0 = 0x8000_0000_0000_0001L // bits 0 and 63
    val hashes = Seq(
      (1L, h0), (2L, h0 ^ 1L), // hamming 1
      (3L, h0 ^ 0x0000_0001_0001_0003L), // vs id 1: hamming 4, band 3 shared
      (4L, h0)) // exact dup of 1
      .toDF("media_id", "ahash")
    val pairs = Multimodal.aHashNearDupPairs(hashes, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.get((1L, 2L)).contains(1L))
    assert(pairs.get((1L, 4L)).contains(0L))
    assert(pairs.get((2L, 4L)).contains(1L))
    assert(!pairs.contains((1L, 3L))) // candidate via band 3, hamming 4 > 3
  }

  // ------------------------------------------------ fourteenth wave

  test("pmiPairs: matches a positional reference on a hand corpus") {
    import spark.implicits._
    val docs = Seq("a b a b c", "b c d d a", "a a b").toDF("text")
    val window = 2
    // independent positional reference
    val tokss = Seq(Seq("a","b","a","b","c"), Seq("b","c","d","d","a"), Seq("a","a","b"))
    val events = for {
      ts <- tokss; i <- ts.indices; o <- 1 to window if i + o < ts.size
    } yield (Seq(ts(i), ts(i + o)).min, Seq(ts(i), ts(i + o)).max)
    val pairCounts = events.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val p = events.size.toDouble
    val uni = tokss.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = tokss.flatten.size.toDouble
    val expect = pairCounts.collect {
      case ((a, b), c) if c >= 2 && a != b =>
        ((a, b), (c, math.log((c / p) / ((uni(a) / n) * (uni(b) / n)))))
    }.toMap
    val got = Text.pmiPairs(docs, "text", window = 2, minPairCount = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == expect.keySet)
    for ((k, (c, pmi)) <- expect) {
      assert(got(k)._1 == c, k)
      assert(math.abs(got(k)._2 - pmi) < 1e-12, k)
    }
  }

  test("chiSquareIndependence: matches full-cell-enumeration reference incl. zero cells") {
    import spark.implicits._
    // (r2, c3) never occurs — its expected mass must still count
    val rows = Seq.fill(20)(("r1", "c1")) ++ Seq.fill(10)(("r1", "c2")) ++
      Seq.fill(5)(("r1", "c3")) ++ Seq.fill(8)(("r2", "c1")) ++
      Seq.fill(12)(("r2", "c2"))
    val df = rows.toDF("r", "c")
    val res = Stats.chiSquareIndependence(df, "r", "c").collect().head
    val (rs, cs) = (rows.map(_._1).distinct, rows.map(_._2).distinct)
    val nTot = rows.size.toDouble
    val chi2 = (for (r <- rs; c <- cs) yield {
      val o = rows.count(x => x == ((r, c))).toDouble
      val e = rows.count(_._1 == r) * rows.count(_._2 == c) / nTot
      (o - e) * (o - e) / e
    }).sum
    assert(math.abs(res.getDouble(0) - chi2) < 1e-9)
    assert(res.getLong(1) == 2L && res.getLong(2) == 55L)
  }

  test("bpeSegment: greedy merge-order application, unseen chars stay chars") {
    import spark.implicits._
    val merges = Seq(("a", "b"), ("ab", "c"), ("d", "d"))
    def seg(w: String): Seq[String] =
      Seq(w).toDF("w").select(Text.bpeSegment(col("w"), merges).as("t"))
        .collect().head.getSeq[String](0)
    assert(seg("abc") == Seq("abc")) // (a,b) then (ab,c)
    assert(seg("abd") == Seq("ab", "d"))
    assert(seg("cab") == Seq("c", "ab"))
    assert(seg("dddd") == Seq("dd", "dd"))
    assert(seg("ddd") == Seq("dd", "d")) // greedy left-to-right
    assert(seg("xyz") == Seq("x", "y", "z")) // untouched by the table
    assert(seg("bca") == Seq("b", "c", "a")) // order matters: no (b,c) merge
  }

  // ---------------------------------------------------- wave 15: intervals

  private def evFrame(rows: Seq[(Long, Long, Long, Double)]) = {
    // (user_id, ts_micros, event_id, value) → typed events-like frame
    import spark.implicits._
    rows.toDF("user_id", "__us", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
  }

  test("intervalCoverage merges overlapping and touching intervals") {
    val S = 1000000L // 1s in µs
    val df = evFrame(Seq(
      (1L, 0 * S, 1L, 0.0), (1L, 50 * S, 2L, 0.0), (1L, 150 * S, 3L, 0.0),
      (1L, 300 * S, 4L, 0.0), // separate island
      (2L, 10 * S, 5L, 0.0)))
      .withColumn("dur", when(col("event_id") === 1, 100 * S)
        .when(col("event_id") === 2, 100 * S) // overlaps [0,100)
        .when(col("event_id") === 3, 50 * S)  // touches at 150 → merges
        .when(col("event_id") === 4, 50 * S)
        .otherwise(10 * S))
    val out = Sessions.intervalCoverage(df, "user_id", "ts", "event_id", col("dur"))
      .orderBy("user_id").collect()
    // user 1: [0,200) ∪ [300,350) → 250 s covered, 2 islands, span 350 s
    assert(out(0).getLong(1) == 250 * S && out(0).getLong(2) == 2L &&
      out(0).getLong(3) == 350 * S)
    // user 2: one 10 s interval
    assert(out(1).getLong(1) == 10 * S && out(1).getLong(2) == 1L)
  }

  test("intervalCoverage is NTZ-proof") {
    import java.time.LocalDateTime
    import spark.implicits._
    val ntz = Seq(
      (1L, LocalDateTime.of(2024, 1, 1, 0, 0, 0), 1L),
      (1L, LocalDateTime.of(2024, 1, 1, 0, 0, 30), 2L),
      (1L, LocalDateTime.of(2024, 1, 1, 0, 2, 0), 3L))
      .toDF("user_id", "ts", "event_id")
    assert(ntz.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val out = Sessions.intervalCoverage(ntz, "user_id", "ts", "event_id",
      lit(60L * 1000000L)).collect()
    // [0,60) ∪ [30,90) merge; [120,180) separate → 90+60 s covered
    assert(out(0).getLong(1) == 150L * 1000000L && out(0).getLong(2) == 2L)
  }

  test("timeWeightedAvg trapezoid and single-sample fallback") {
    val S = 1000000L
    val df = evFrame(Seq(
      (1L, 0 * S, 1L, 10.0), (1L, 10 * S, 2L, 20.0), (1L, 30 * S, 3L, 20.0),
      (2L, 5 * S, 4L, 7.0)))
    val out = Sessions.timeWeightedAvg(df, "user_id", "ts", "event_id", "value")
      .orderBy("user_id").collect()
    // user 1: (15·10 + 20·20)/30 = 550/30
    assert(math.abs(out(0).getDouble(2) - 550.0 / 30.0) < 1e-9)
    assert(out(0).getLong(1) == 3L)
    // user 2: single sample → that value
    assert(out(1).getDouble(2) == 7.0 && out(1).getLong(1) == 1L)
  }

  test("cusum closed form equals the recursive fold") {
    val S = 1000000L
    val vals1 = Seq(1.0, 2.0, 1.5, 8.0, 9.0, 8.5, 9.5) // upward shift
    val vals2 = Seq(2.0, 1.0, 2.0, 1.0)
    val rows = vals1.zipWithIndex.map { case (v, i) => (1L, i * S, i.toLong, v) } ++
      vals2.zipWithIndex.map { case (v, i) => (2L, i * S, (100 + i).toLong, v) }
    val k = 0.5; val h = 1.0
    val out = Stats.cusum(evFrame(rows), "user_id", "ts", "event_id", "value",
      k, h).orderBy("user_id").collect()
    // replicate: rounded global moments, then the recursion S=max(0,S+y)
    val xs = vals1 ++ vals2
    val mu0 = xs.sum / xs.size
    val mu = BigDecimal(mu0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sg0 = math.sqrt(xs.map(x => (x - mu0) * (x - mu0)).sum / xs.size)
    val sg = BigDecimal(sg0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def replay(vs: Seq[Double]): (Long, Double, Option[Long]) = {
      var s = 0.0; var alarms = 0L; var mx = Double.MinValue
      var firstIdx: Option[Long] = None
      vs.zipWithIndex.foreach { case (x, i) =>
        s = math.max(0.0, s + (x - mu) / sg - k)
        if (s > h) { alarms += 1; if (firstIdx.isEmpty) firstIdx = Some(i.toLong) }
        mx = math.max(mx, s)
      }
      (alarms, mx, firstIdx)
    }
    val (a1, m1, f1) = replay(vals1); val (a2, m2, f2) = replay(vals2)
    assert(out(0).getLong(1) == a1 && math.abs(out(0).getDouble(3) - m1) < 1e-9)
    assert(out(1).getLong(1) == a2 && math.abs(out(1).getDouble(3) - m2) < 1e-9)
    assert(a1 > 0 && out(0).get(2) == f1.get * S) // alarms after the shift
    assert(a2 == 0 && f2.isEmpty && out(1).get(2) == null)
  }

  // ---------------------------------------------------- wave 15: bloom

  test("bloom prune: zero false negatives, exact join equivalence") {
    import spark.implicits._
    val dim = (0L until 200L by 2L).toDF("k")           // even keys
    val fact = (0L until 5000L).map(i => (i, i % 400)).toDF("id", "fk")
    val pruned = Bloom.prune(fact, dim, "fk", "k", nbits = 1 << 14, numHashes = 5)
    val keptKeys = pruned.select("fk").distinct().as[Long].collect().toSet
    // every true member survives
    (0L until 400L).filter(k => k % 2 == 0 && k < 200).foreach(k =>
      assert(keptKeys.contains(k), s"false negative for $k"))
    // prune is a superset filter: the real join gives the exact result
    val exact = fact.join(dim, fact("fk") === dim("k")).count()
    val viaBloom = pruned.join(dim, pruned("fk") === dim("k")).count()
    // even keys 0..198 appear 13× each in fact (i%400 over 5000 rows
    // hits 0..199 thirteen times) → 100 · 13 matches
    assert(exact == viaBloom && exact == 1300L)
    // and the filter actually prunes: misses mostly dropped (fp ≪ 1)
    assert(pruned.count() < fact.count())
  }

  test("bloom prune: auto-sizing keeps fp low at cardinalities that saturate a fixed filter") {
    import spark.implicits._
    // 300k dim keys: a fixed 2^20-bit filter at k=5 gives fp ≈ 25% here
    // (and ≈ 97% at 10^6 keys) — auto-sizing (~10 bits/key) holds ≈ 1%
    val dim = (0L until 300000L).toDF("k")
    val miss = (1000000L until 1050000L).map(i => (i, i)).toDF("id", "fk")
    val kept = Bloom.prune(miss, dim, "fk", "k").count()
    assert(kept < 2500L, s"fp too high with auto-sizing: $kept / 50000") // < 5%
  }

  // ----------------------------------------- wave 15: global rank / SNM

  test("globalRank matches a single-partition row_number") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1L to 500L).map(i => (i, s"k${rnd.nextInt(40)}"))
    val df = rows.toDF("id", "k").repartition(7)
    val ranked = Dedup.globalRank(df, Seq("k", "id"), "rank")
      .select("id", "rank").as[(Long, Long)].collect().toMap
    val expected = rows.sortBy { case (id, k) => (k, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    assert(ranked == expected)
  }

  test("sortedNeighborhoodPairs matches brute force") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(11)
    val base = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val rows = (1L to 120L).map { i =>
      val s = base(rnd.nextInt(base.size)) + rnd.nextInt(10)
      (i, if (rnd.nextBoolean()) s else s.replace('a', 'x'))
    }
    val w = 5; val maxEd = 3
    val got = Dedup.sortedNeighborhoodPairs(rows.toDF("doc_id", "txt"),
        "doc_id", col("txt"), w, maxEd)
      .select("id_a", "id_b", "pos_gap", "edit_dist")
      .as[(Long, Long, Long, Long)].collect().toSet
    val sorted = rows.sortBy { case (id, k) => (k, id) }
    val expected = (for {
      i <- sorted.indices; d <- 1 to w if i + d < sorted.size
      ed = lev(sorted(i)._2, sorted(i + d)._2) if ed <= maxEd
    } yield (sorted(i)._1, sorted(i + d)._1, d.toLong, ed.toLong)).toSet
    assert(got == expected && got.nonEmpty)
  }

  // ---------------------------------------------- wave 15: attribution

  // ------------------------------------------------------ wave 16

  test("rollingDistinct counts trailing-window actives exactly") {
    val D = 86400000000L
    val df = evFrame(Seq(
      (1L, 0 * D, 1L, 0.0), (1L, 0 * D + 5L, 2L, 0.0), // same day dedupes
      (2L, 0 * D, 3L, 0.0),
      (1L, 10 * D, 4L, 0.0)))
    val out = Sessions.rollingDistinct(df, "user_id", "ts", windowDays = 3)
      .orderBy("day").collect().map(r => (r.getLong(0), r.getLong(1)))
    // day 0: users {1,2}; days 1,2 trail it; day 10 only user 1
    assert(out.toSeq == Seq((0L, 2L), (1L, 2L), (2L, 2L),
      (10L, 1L), (11L, 1L), (12L, 1L)))
  }

  test("globalOrderedCumsum matches a single-partition running sum") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (1L to 400L).map(i => (i, s"g${rnd.nextInt(30)}", rnd.nextInt(50).toLong))
    val df = rows.toDF("id", "k", "v").repartition(6)
    val got = Dedup.globalOrderedCumsum(df,
        Seq(col("v").desc, col("id").asc), "v", "rank", "cum")
      .select("id", "rank", "cum").as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    var run = 0L
    val exp = rows.sortBy { case (id, _, v) => (-v, id) }.zipWithIndex.map {
      case ((id, _, v), i) => run += v; id -> (i + 1L, run)
    }.toMap
    assert(got == exp)
  }

  test("vocabCoverage finds the smallest covering vocab per threshold") {
    import spark.implicits._
    // counts: a×6, b×3, c×1 → total 10; cum: 6, 9, 10
    val docs = Seq("a a a b", "A a b c", "a b").toDF("text")
    val out = Text.vocabCoverage(docs, "text", Seq(0.5, 0.9, 1.0))
      .orderBy("threshold").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0.5, 1L, 6L, 10L), (0.9, 2L, 9L, 10L),
      (1.0, 3L, 10L, 10L)))
  }

  test("itemCooccurrence: basket dedupe, pair counts, cosine") {
    import spark.implicits._
    val df = Seq((1L, 10L), (1L, 20L), (1L, 20L), // dup item in basket
      (2L, 10L), (2L, 20L), (3L, 10L), (3L, 30L)).toDF("b", "i")
    val out = Similarity.itemCooccurrence(df, "b", "i", minTogether = 1L)
      .orderBy("item_a", "item_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // (10,20) together 2×, n10=3, n20=2; (10,30) together 1×, n30=1
    assert(out.toSeq == Seq(
      (10L, 20L, 2L, 3L, 2L, 2.0 / math.sqrt(6.0)),
      (10L, 30L, 1L, 3L, 1L, 1.0 / math.sqrt(3.0))))
  }

  test("ndcgAtK: perfect, partial and zero-relevance queries") {
    import spark.implicits._
    // 2-D unit-ish vectors; query 1 (label 0) nearest: both label-0 docs
    // first → perfect NDCG@2; query 2 (label 1): nearest is label 0 →
    // rel at rank 2 only
    val queries = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.0f, 1.0f), 1)).toDF("id", "vec", "lab")
    val corpus = Seq(
      (10L, Seq(0.99f, 0.1f), 0), (11L, Seq(0.98f, 0.2f), 0),
      (12L, Seq(0.10f, 0.99f), 0), (13L, Seq(-0.9f, 0.4f), 1))
      .toDF("id", "vec", "lab")
    val out = Similarity.ndcgAtK(queries, corpus, "id", "vec", "lab", k = 2)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // q1 top-2 = (10, 11), both label 0 → ndcg 1
    assert(out(0)._1 == 1L && out(0)._2 == 2L && math.abs(out(0)._3 - 1.0) < 1e-12)
    // q2 top-2 = (12 label 0, 13 label 1): dcg = 1/log2(3); ideal(label 1)
    // has ONE corpus doc → idcg = 1/log2(2) = 1
    val exp2 = (1.0 / (math.log(3.0) / math.log(2.0))) / 1.0
    assert(out(1)._1 == 2L && out(1)._2 == 1L && math.abs(out(1)._3 - exp2) < 1e-9)
  }

  // ------------------------------------------------------ wave 17

  test("residualOutliers flags only the planted deviation") {
    import spark.implicits._
    // y ≈ 2x with small noise, one planted far point per group
    val rows = (1L to 50L).map(i => (i, "g1", i.toDouble % 10,
      2.0 * (i % 10) + (if (i % 3 == 0) 0.1 else -0.1))) :+
      (99L, "g1", 5.0, 60.0) // planted: resid ≈ 50
    val out = Stats.residualOutliers(rows.toDF("id", "g", "x", "y"),
      Seq("g"), "x", "y", z = 4.0).select("id").as[Long].collect().toSet
    assert(out == Set(99L))
  }

  test("residualOutliers: degenerate groups fall back instead of silently dropping") {
    import spark.implicits._
    // constant-x group: corr is NULL → old path dropped everything; new
    // path fits the mean and flags the z-score outlier on y
    val constX = (1L to 40L).map(i =>
      (i, "cx", 7.0, if (i == 13L) 500.0 else (i % 5).toDouble))
    // perfectly colinear group (|corr| = 1, σ_res = 0): on-the-line
    // residuals are 0 — nothing flags, but nothing errors either
    val colinear = (101L to 140L).map(i => (i, "col", i.toDouble, 3.0 * i))
    val out = Stats.residualOutliers((constX ++ colinear).toDF("id", "g", "x", "y"),
      Seq("g"), "x", "y", z = 4.0)
      .select("id").as[Long].collect().toSet
    assert(out == Set(13L), out.toString)
  }

  test("topPaths orders within session and truncates the prefix") {
    val S = 60L * 1000000L // 1 min
    val df = evFrame(Seq(
      // user 1, session 1: a>b>c ; session 2 (gap > 30 min): a>b
      (1L, 0 * S, 1L, 0.0), (1L, 1 * S, 2L, 0.0), (1L, 2 * S, 3L, 0.0),
      (1L, 100 * S, 4L, 0.0), (1L, 101 * S, 5L, 0.0),
      // user 2: one session a>b>c>d — truncated to 3
      (2L, 0 * S, 6L, 0.0), (2L, 1 * S, 7L, 0.0), (2L, 2 * S, 8L, 0.0),
      (2L, 3 * S, 9L, 0.0)))
    val typed = df.withColumn("event_type",
      when(col("event_id") === 1 || col("event_id") === 4 || col("event_id") === 6, "a")
        .when(col("event_id") === 2 || col("event_id") === 5 || col("event_id") === 7, "b")
        .when(col("event_id") === 3 || col("event_id") === 8, "c")
        .otherwise("d"))
    val out = Sessions.topPaths(typed, "user_id", "ts", "event_id",
        "event_type", gapMinutes = 30, prefixLen = 3, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a>b>c", 2L), ("a>b", 1L)))
  }

  test("refIntegrity counts orphans against a deduplicated parent") {
    import spark.implicits._
    val child = Seq(1L, 1L, 2L, 3L, 4L).toDF("fk")
    val parent = Seq(1L, 1L, 2L).toDF("pk") // dup parent keys collapse
    val r = Stats.refIntegrity(child, parent, "fk", "pk", "t").collect()(0)
    assert(r.getString(0) == "t" && r.getLong(1) == 5L &&
      r.getLong(2) == 3L && r.getLong(3) == 2L &&
      math.abs(r.getDouble(4) - 0.4) < 1e-12)
  }

  test("giniSkew: uniform is 0, hand-computed skew matches") {
    import spark.implicits._
    val uniform = Seq("a", "b", "c", "d").toDF("k")
    assert(math.abs(Stats.giniSkew(uniform, "k").collect()(0).getDouble(2)) < 1e-12)
    // counts a:1, b:3 → sorted [1,3]: G = 2(1·1+2·3)/(2·4) − 3/2 = 0.25
    val skew = (Seq("a") ++ Seq.fill(3)("b")).toDF("k")
    val r = Stats.giniSkew(skew, "k").collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 4L &&
      math.abs(r.getDouble(2) - 0.25) < 1e-12)
  }

  test("mutualInfo: independence → 0, identity → nmi 1") {
    import spark.implicits._
    val indep = (for (a <- Seq("x", "y"); b <- Seq("u", "v"); _ <- 1 to 5)
      yield (a, b)).toDF("a", "b")
    val ri = Stats.mutualInfo(indep, "a", "b").collect()(0)
    assert(math.abs(ri.getDouble(1)) < 1e-12) // MI = 0
    assert(math.abs(ri.getDouble(2) - math.log(2.0)) < 1e-12) // H(A) = ln 2
    val ident = Seq.fill(5)(("x", "x")) ++ Seq.fill(5)(("y", "y"))
    val rd = Stats.mutualInfo(ident.toDF("a", "b"), "a", "b").collect()(0)
    assert(math.abs(rd.getDouble(1) - math.log(2.0)) < 1e-12)
    assert(math.abs(rd.getDouble(4) - 1.0) < 1e-12) // nmi = 1
  }

  // ------------------------------------------------------ wave 18

  test("globalOrderedCummaxExcl matches a single-partition exclusive running max") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (1L to 300L).map(i => (i, rnd.nextInt(100).toLong, rnd.nextInt(1000).toLong))
    val got = Dedup.globalOrderedCummaxExcl(rows.toDF("id", "s", "v").repartition(5),
        Seq(col("s").asc, col("id").asc), "v", "cm")
      .select("id", "cm").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    var run = -1L
    val exp = rows.sortBy { case (id, s, _) => (s, id) }.map { case (id, _, v) =>
      val out = id -> run; run = math.max(run, v); out
    }.toMap
    assert(got == exp)
  }

  test("skyline2d: dominance, same-a ties, duplicate points") {
    import spark.implicits._
    val pts = Seq(
      (1L, 10.0, 5L),  // frontier
      (2L, 10.0, 3L),  // dominated by 1 (same a, lower b)
      (3L, 8.0, 7L),   // frontier (worse a, better b)
      (4L, 8.0, 4L),   // dominated by 1 AND by 3
      (5L, 12.0, 1L),  // frontier (best a)
      (6L, 6.0, 7L),   // dominated by 3 (strictly lower a, equal b)
      (7L, 5.0, 9L),   // frontier
      (8L, 5.0, 9L))   // duplicate of 7 — both survive
      .toDF("id", "a", "b")
    val got = Pareto.skyline2d(pts, "a", "b")
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 3L, 5L, 7L, 8L))
  }

  test("psi: identical halves 0, shifted distribution positive, one-sided counted") {
    import spark.implicits._
    val a = (1 to 100).map(i => (i % 10).toDouble).toDF("v")
    val same = Stats.psi(a, a, "v", 0.0, 10.0, 10).collect()(0)
    assert(same.getLong(2) == 10L && same.getLong(3) == 0L &&
      math.abs(same.getDouble(4)) < 1e-12)
    val b = (1 to 100).map(i => (i % 10).toDouble + 3.0).toDF("v") // shift by 3
    val r = Stats.psi(a, b, "v", 0.0, 10.0, 10).collect()(0)
    assert(r.getDouble(4) > 0.1) // clear drift
    assert(r.getLong(3) > 0L)    // bins occupied on one side only
  }

  test("rboAtK: identical rankings hit the truncated closed form, disjoint are 0") {
    import spark.implicits._
    val rk = (for (q <- 1 to 3; r <- 1 to 5) yield (q.toLong, (q * 100 + r).toLong, r))
      .toDF("query_id", "neighbor_id", "rank")
    val p = 0.5; val k = 5
    val out = Similarity.rboAtK(rk, rk, p, k).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = (1 - p) * (1 to k).map(d => math.pow(p, d - 1)).sum
    assert(out.size == 3 && out.values.forall(v => math.abs(v - expected) < 1e-12))
    val other = rk.withColumn("neighbor_id", col("neighbor_id") + 1000L)
    val zero = Similarity.rboAtK(rk, other, p, k).collect()
    assert(zero.length == 3 && zero.forall(_.getDouble(1) == 0.0))
  }

  // ------------------------------------------------------ wave 19

  test("holt matches the recursive level/trend fold") {
    val S = 1000000L
    val vals = Seq(10.0, 12.0, 11.0, 15.0, 18.0, 17.0)
    val rows = vals.zipWithIndex.map { case (v, i) => (1L, i * S, i.toLong, v) }
    val out = Sessions.holt(evFrame(rows), "user_id", "ts", "event_id",
      "value", alpha = 0.25, beta = 0.5).collect()(0)
    var l = vals.head; var b = 0.0
    vals.tail.foreach { x =>
      val l2 = 0.25 * x + 0.75 * (l + b)
      b = 0.5 * (l2 - l) + 0.5 * b; l = l2
    }
    assert(out.getLong(1) == vals.size.toLong)
    assert(out.getDouble(2) == l && out.getDouble(3) == b) // bit-exact
    assert(out.getDouble(4) == l + b)
  }

  test("gapFill: interp, locf, nocb and all-missing keys") {
    val S = 1000000L
    val df = evFrame(Seq(
      (1L, 0 * S, 1L, 10.0), (1L, 10 * S, 2L, 0.0), (1L, 20 * S, 3L, 30.0),
      (1L, 30 * S, 4L, 0.0), // trailing gap → locf
      (2L, 0 * S, 5L, 0.0), (2L, 10 * S, 6L, 5.0), // leading gap → nocb
      (3L, 0 * S, 7L, 0.0))) // never observed → none
      .withColumn("value", when(col("value") === 0.0, lit(null)).otherwise(col("value")))
    val out = Sessions.gapFill(df, "user_id", "ts", "event_id", "value")
      .orderBy("user_id", "event_id")
      .select("event_id", "filled", "fill_kind").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getString(2)))
    assert(out(1) == (2L, Some(20.0), "interp")) // midpoint of 10 and 30
    assert(out(3) == (4L, Some(30.0), "locf"))
    assert(out(4) == (5L, Some(5.0), "nocb"))
    assert(out(6) == (7L, None, "none"))
  }

  test("kAnonymity counts violating groups and at-risk rows") {
    import spark.implicits._
    val df = (Seq.fill(5)(("a", "x")) ++ Seq.fill(2)(("a", "y")) ++
      Seq.fill(1)(("b", "x"))).toDF("q1", "q2")
    val r = Stats.kAnonymity(df, Seq("q1", "q2"), k = 3L).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 8L && r.getLong(2) == 1L)
    assert(r.getLong(3) == 2L && r.getLong(4) == 3L)
    assert(math.abs(r.getDouble(5) - 3.0 / 8.0) < 1e-15)
  }

  test("lexicalDiversity: case folding, TTR and hapax share") {
    import spark.implicits._
    val docs = Seq(("en", "The the THE cat"), ("en", "cat dog")).toDF("lang", "text")
    val r = Text.lexicalDiversity(docs, "lang", "text").collect()(0)
    // tokens: the×3, cat×2, dog×1 → 6 tokens, 3 types, 1 hapax
    assert(r.getLong(1) == 6L && r.getLong(2) == 3L && r.getLong(4) == 1L)
    assert(r.getDouble(3) == 0.5 && math.abs(r.getDouble(5) - 1.0 / 3.0) < 1e-15)
  }

  // ------------------------------------------------------ wave 20

  test("rollingMedian: odd/even frames and leading partial windows") {
    val S = 1000000L
    val vals = Seq(10.0, 30.0, 20.0, 100.0, 40.0)
    val rows = vals.zipWithIndex.map { case (v, i) => (1L, i * S, i.toLong, v) }
    val out = Sessions.rollingMedian(evFrame(rows), "user_id", "ts",
        "event_id", "value", nEvents = 3)
      .orderBy("event_id").select("n_in_window", "rolling_median").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // frames: [10] → 10; [10,30] → 20; [10,30,20] → 20; [30,20,100] → 30;
    // [20,100,40] → 40 (the 100 spike doesn't drag the median);
    // n_in_window caps at the 3-row frame
    assert(out.toSeq == Seq((1L, 10.0), (2L, 20.0), (3L, 20.0),
      (3L, 30.0), (3L, 40.0)))
  }

  test("exactQuantileCol: exact ranks, interpolation, singleton") {
    import spark.implicits._
    val df = Seq(Seq(10L, 20L, 30L, 40L)).toDF("a")
    def q(p: Double) = df.select(Stats.exactQuantileCol(col("a"), p))
      .collect()(0).getDouble(0)
    assert(q(0.5) == 25.0)               // frac 0.5 between 20 and 30
    assert(q(0.0) == 10.0 && q(1.0) == 40.0)
    assert(math.abs(q(0.9) - (30.0 + 0.7 * 10.0)) < 1e-12) // rank 2.7
    val one = Seq(Seq(7L)).toDF("a")
    assert(one.select(Stats.exactQuantileCol(col("a"), 0.9))
      .collect()(0).getDouble(0) == 7.0)
  }

  test("markovEntropy: deterministic chain is 0, uniform branch is ln 2") {
    val S = 1000000L
    // user 1: a→b→a→b… (deterministic from both states)
    val det = (0 until 6).map(i => (1L, i * S, i.toLong, 0.0))
    // user 2: sequence c,d,c,e → c→d and c→e equally; d→c deterministic
    val uni = (0 until 4).map(i => (2L, i * S, (10 + i).toLong, 0.0))
    val df = evFrame(det ++ uni).withColumn("event_type",
      when(col("user_id") === 1,
        when(col("event_id") % 2 === 0, "a").otherwise("b"))
        .otherwise(when(col("event_id") % 2 === 0, "c")
          .when(col("event_id") === 11, "d").otherwise("e")))
    val out = Sessions.markovEntropy(df).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(out("a")) < 1e-12 && math.abs(out("b")) < 1e-12)
    assert(math.abs(out("d")) < 1e-12)
    assert(math.abs(out("c") - math.log(2.0)) < 1e-12)
  }

  test("bfsHops: multi-source minimum hops, unreached absent, isolated seeds kept") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("u", "v")
    val seeds = Seq(1L, 20L).toDF("s") // 20 is not in the graph
    val out = Graph.bfsHops(edges, "u", "v", seeds, "s", maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 20L -> 0L))
    // 5 needs 4 hops → absent; the 10-11 component unreached → absent
  }

  test("bfsHops: gated driver path equals the distributed path on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(9393)
    for (trial <- 0 until 3) {
      val n = 50 + trial * 30
      val edges = (0 until n * 2)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .toDF("u", "v")
      val seeds = (0 until 5).map(_ => rnd.nextInt(n + 10).toLong).toDF("s")
      val gated = Graph.bfsHops(edges, "u", "v", seeds, "s", maxHops = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Graph.bfsHops(edges, "u", "v", seeds, "s", maxHops = 4,
          collectThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gated == dist, s"trial $trial")
    }
    // mixed id widths: int seeds over long edges — gated output dtype must
    // match the distributed union-coerced dtype
    val eL = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val sI = Seq(1).toDF("s")
    val g = Graph.bfsHops(eL, "u", "v", sI, "s", maxHops = 2)
    val d = Graph.bfsHops(eL, "u", "v", sI, "s", maxHops = 2, collectThreshold = 0L)
    assert(g.schema("node").dataType == d.schema("node").dataType)
    assert(g.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  // ------------------------------------------------------ wave 21

  test("itemRecommendations: owned excluded, scores summed, top-k ordered") {
    import spark.implicits._
    // baskets: (1:{a,b}, 2:{a,b}, 3:{b,c}, 4:{a,c}) with users u1={a}, u2={a,b}
    val rows = Seq(
      (10L, 1L, "a"), (10L, 1L, "b"), (10L, 2L, "a"), (10L, 2L, "b"),
      (20L, 3L, "b"), (20L, 3L, "c"), (20L, 4L, "a"), (20L, 4L, "c"))
      .toDF("cust", "basket", "item")
    val out = Similarity.itemRecommendations(rows, "cust", "basket", "item",
        k = 2, minTogether = 1L)
      .collect().map(r => ((r.getLong(0), r.getString(1)),
        (r.getDouble(2), r.getInt(4)))).toMap
    // weights: cos(a,b) = 2/sqrt(3*3) = 2/3; cos(b,c) = 1/sqrt(3*2);
    // cos(a,c) = 1/sqrt(3*2). u1 owns {a,b} (baskets 1,2 + 4 has a) —
    // wait: u1=10 owns {a,b}; candidate c: cos(a,c) + cos(b,c)
    val exp_c = BigDecimal(1.0 / math.sqrt(6.0) + 1.0 / math.sqrt(6.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.contains((10L, "c")) &&
      math.abs(out((10L, "c"))._1 - exp_c) < 1e-9)
    // u2=20 owns {a,b,c} → no candidates
    assert(!out.keys.exists(_._1 == 20L))
  }

  test("periEventHistogram: negative/positive buckets, window cut") {
    val S = 1000000L
    val df = evFrame(Seq(
      (1L, 1000 * S, 1L, 0.0),            // anchor at t=1000s
      (1L, 880 * S, 2L, 0.0),             // rel at -120s → bucket -2
      (1L, 1000 * S + 30 * S, 3L, 0.0),   // rel at +30s → bucket 0
      (1L, 5000 * S, 4L, 0.0),            // rel far outside window
      (2L, 970 * S, 5L, 0.0)))            // rel of OTHER user — no anchor
      .withColumn("event_type",
        when(col("event_id") === 1, "purchase").otherwise("click"))
    val out = Sessions.periEventHistogram(df, "user_id", "ts", "event_type",
        "purchase", "click", windowMicros = 600 * S, bucketMicros = 60 * S)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((-2L, 1L, -120 * S), (0L, 1L, 0L)))
  }

  test("burstiness: metronome is -1, bursty positive") {
    val S = 1000000L
    val metro = (0 until 6).map(i => (1L, i * 10 * S, i.toLong, 0.0))
    val bursty = Seq(0L, 1L, 2L, 3L, 1000L, 1001L, 1002L).zipWithIndex
      .map { case (t, i) => (2L, t * S, (100 + i).toLong, 0.0) }
    val out = Sessions.burstiness(evFrame(metro ++ bursty), "user_id",
        "ts", "event_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(math.abs(out(1L) - (-1.0)) < 1e-12)
    assert(out(2L) > 0.3) // one huge gap among six → clearly bursty
  }

  test("pageRankWeighted: uniform weights reproduce the unweighted trajectory") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val ew = e.withColumn("w", lit(7.0)) // equal weights → w/os = 1/outdeg
    val plain = Graph.pageRank(e, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val weighted = Graph.pageRankWeighted(ew, "src", "dst", "w", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(plain.keySet == weighted.keySet)
    plain.foreach { case (n, r) => assert(math.abs(weighted(n) - r) < 1e-12) }
    // unequal weights shift mass toward the heavy edge
    val skew = Seq((1L, 2L, 100.0), (1L, 3L, 1.0), (2L, 1L, 1.0),
      (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val wr = Graph.pageRankWeighted(skew, "src", "dst", "w", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wr(2L) > wr(3L))
  }

  // ------------------------------------------------------ wave 22

  test("neymanSample: allocation tracks N_h·σ_h, caps at stratum size") {
    import spark.implicits._
    // stratum A: 50 varied values; B: 50 constant (σ=0); C: 3 varied rows
    val rows = (1L to 50L).map(i => ("A", i, (i * 17 % 100).toDouble)) ++
      (51L to 100L).map(i => ("B", i, 42.0)) ++
      Seq(("C", 101L, 0.0), ("C", 102L, 500.0), ("C", 103L, 1000.0))
    val out = Sampling.neymanSample(rows.toDF("lang", "id", "v"),
      "lang", "id", "v", totalN = 20)
    val byStratum = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byStratum.contains("B"))         // σ=0 → zero allocation
    assert(byStratum("C") == 3L)             // capped at stratum size
    assert(byStratum("A") >= 10L)            // bulk of the budget
    // deterministic pick: re-running yields the identical id set
    val ids1 = out.select("id").as[Long].collect().toSet
    val ids2 = Sampling.neymanSample(rows.toDF("lang", "id", "v"),
      "lang", "id", "v", totalN = 20).select("id").as[Long].collect().toSet
    assert(ids1 == ids2)
  }

  test("neymanSample: all-homogeneous strata fall back to proportional; null values excluded from pick pool") {
    import spark.implicits._
    // every stratum constant → Σ N_h·σ_h = 0: proportional fallback
    // (old behavior: `rank <= null` → silently EMPTY)
    val flat = (1L to 60L).map(i => ("A", i, 5.0)) ++
      (61L to 90L).map(i => ("B", i, 7.0))
    val out = Sampling.neymanSample(flat.toDF("lang", "id", "v"),
      "lang", "id", "v", totalN = 30)
    val byStratum = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStratum("A") == 20L && byStratum("B") == 10L, byStratum.toString)
    // null-value rows must not consume allocations: stratum of size 4
    // with 2 null rows allocates from (and picks from) the 2 real rows
    val withNulls = Seq(("A", 1L, Some(1.0)), ("A", 2L, Some(9.0)),
      ("A", 3L, None), ("A", 4L, None))
    val out2 = Sampling.neymanSample(withNulls.toDF("lang", "id", "v"),
      "lang", "id", "v", totalN = 2)
    assert(out2.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("imageFeaturesBatched: hand-computed TV and distinct counts") {
    import spark.implicits._
    // 3×2 image, G row pattern [10, 200, 50] → TV per row = 190+150 = 340
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) {
      val g = Seq(10, 200, 50)(x)
      img.setRGB(x, y, (7 << 16) | (g << 8) | 9) // R=7, B=9 solid
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq((1L, bos.toByteArray)).toDF("media_id", "payload")
    val r = Multimodal.imageFeaturesBatched(df).collect()(0)
    assert(r.getInt(1) == 3 && r.getInt(2) == 2)
    assert(r.getLong(3) == 0L)        // tv_r: solid
    assert(r.getLong(4) == 2L * 340L) // tv_g: two rows
    assert(r.getLong(5) == 0L)        // tv_b: solid
    assert(r.getInt(6) == 3)          // distinct green values
    // corrupt payload degrades to nulls
    val bad = Multimodal.imageFeaturesBatched(
      Seq((2L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9))).toDF("media_id", "payload"))
      .collect()(0)
    assert(bad.isNullAt(1) && bad.isNullAt(4))
  }

  test("docKeywords ranks by exact tf-idf with term tie-break") {
    import spark.implicits._
    val docs = Seq(
      (1L, "rare alpha alpha beta beta beta"),
      (2L, "beta beta common common"),
      (3L, "common beta gamma")).toDF("doc_id", "text")
    val out = Text.docKeywords(docs, "text", "doc_id", k = 2)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(1), r.getInt(5), r.getString(0)))
    // doc 1: beta tf=3 df=3 → 3·(ln(4/4)+1) = 3; alpha tf=2 df=1 →
    // 2·(ln(2)+1) ≈ 3.386 → alpha outranks beta despite lower tf
    assert(out(0)._3 == "alpha" && out(1)._3 == "beta")
    assert(out.length == 6)
  }

  test("kaplanMeier: censoring reduces risk sets without counting as failure") {
    import spark.implicits._
    // durations: 1(event), 2(censored), 3(event), 4(event), 5(censored)
    val subj = Seq((1L, true), (2L, false), (3L, true), (4L, true),
      (5L, false)).toDF("dur", "obs")
    val out = Stats.kaplanMeier(subj, "dur", "obs").orderBy("t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((1L, 5L, 1L), (3L, 3L, 1L), (4L, 2L, 1L)))
    assert(math.abs(out(0)._4 - 0.8) < 1e-12)
    assert(math.abs(out(1)._4 - 0.8 * 2.0 / 3.0) < 1e-12)
    assert(math.abs(out(2)._4 - 0.8 * 2.0 / 3.0 * 0.5) < 1e-12)
    // everyone failing at the last time drops the curve to exactly 0
    val allFail = Seq((1L, true), (2L, true)).toDF("dur", "obs")
    val last = Stats.kaplanMeier(allFail, "dur", "obs").orderBy("t")
      .collect().last
    assert(last.getDouble(3) == 0.0)
  }

  test("heapsLaw: all-new-token corpus fits beta = 1 exactly") {
    import spark.implicits._
    // doc n introduces exactly 2 brand-new tokens → V(n) = 2n →
    // ln V = ln 2 + 1·ln n: the regression is exact
    val docs = (1L to 40L).map(i => (i, s"tok${i}a tok${i}b")).toDF("doc_id", "text")
    val r = Text.heapsLaw(docs, "text", "doc_id").collect()(0)
    assert(r.getLong(0) == 40L && r.getLong(1) == 80L)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-6)
    assert(math.abs(r.getDouble(3) - math.log(2.0)) < 1e-6)
  }

  test("autocorrelation: alternating series gives acf(1) = -1, acf(2) = 1; gaps zero-fill") {
    val S = 1000000L
    // buckets 0..9 (1s each): counts alternate 2,1,2,1… via event rows;
    // bucket 5 left EMPTY → zero-fill breaks the alternation there
    val rows = (0 until 10).filter(_ != 5).flatMap { b =>
      val n = if (b % 2 == 0) 2 else 1
      (0 until n).map(j => (1L, b * S + j, (b * 10 + j).toLong, 0.0))
    }
    val out = Stats.autocorrelation(evFrame(rows), "ts",
        bucketMicros = S, maxLag = 2)
      .orderBy("lag").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out(0)._2 == 9L && out(1)._2 == 8L) // pair counts over 10 buckets
    // with the planted zero the series is 2,1,2,1,2,0,1,2,1,2 — the
    // perfect ±1 alternation breaks, but lag-2 similarity still beats lag-1
    assert(out(1)._3 > out(0)._3)
    // and WITHOUT the gap the textbook values hold exactly
    val full = (0 until 10).flatMap { b =>
      val n = if (b % 2 == 0) 2 else 1
      (0 until n).map(j => (1L, b * S + j, (b * 10 + j).toLong, 0.0))
    }
    val f = Stats.autocorrelation(evFrame(full), "ts", S, 2)
      .orderBy("lag").collect().map(_.getDouble(2))
    assert(math.abs(f(0) - (-1.0)) < 1e-9 && math.abs(f(1) - 1.0) < 1e-9)
  }

  test("theilSen: outlier-immune where OLS is dragged") {
    val S = 1000000L
    // perfect slope-2 line over 11 buckets, one wild outlier bucket:
    // counts 1,3,5,…,21 with bucket 5 spiked to 100 events
    val rows = (0 until 11).flatMap { b =>
      val n = if (b == 5) 100 else 2 * b + 1
      (0 until n).map(j => (1L, b * S + j, (b * 100 + j).toLong, 0.0))
    }
    val r = Stats.theilSen(evFrame(rows), "ts", bucketMicros = S).collect()(0)
    assert(r.getLong(0) == 11L && r.getLong(1) == 55L)
    assert(math.abs(r.getDouble(2) - 2.0) < 1e-9)  // median slope holds at 2
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)  // median residual → y₀ = 1
  }

  test("oddsRatio: Haldane-corrected cells, CI brackets the point estimate") {
    import spark.implicits._
    // exposed: 8/2 success/fail; unexposed: 2/8 → raw OR = 16
    val rows = Seq.fill(8)((true, true)) ++ Seq.fill(2)((true, false)) ++
      Seq.fill(2)((false, true)) ++ Seq.fill(8)((false, false))
    val r = Stats.oddsRatio(rows.toDF("e", "o"), col("e"), col("o")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((8L, 2L, 2L, 8L)))
    val exp = (8.5 * 8.5) / (2.5 * 2.5)
    assert(math.abs(r.getDouble(4) - exp) < 1e-12)
    assert(r.getDouble(5) < exp && exp < r.getDouble(6))
    // zero cell: corrected estimator stays finite
    val z = Seq.fill(5)((true, true)) ++ Seq.fill(5)((false, false))
    val rz = Stats.oddsRatio(z.toDF("e", "o"), col("e"), col("o")).collect()(0)
    assert(!rz.getDouble(4).isInfinite && !rz.getDouble(6).isInfinite)
  }

  test("weekOverWeekOverlap: shifted-join Jaccard with disjoint and identical weeks") {
    val W = 604800000000L
    val df = evFrame(Seq(
      // week 0: {1,2,3}; week 1: {2,3,4}; week 2: {9}
      (1L, 0 * W, 1L, 0.0), (2L, 0 * W + 5, 2L, 0.0), (3L, 0 * W + 9, 3L, 0.0),
      (2L, 1 * W, 4L, 0.0), (3L, 1 * W + 5, 5L, 0.0), (4L, 1 * W + 9, 6L, 0.0),
      (9L, 2 * W, 7L, 0.0)))
    val out = Sessions.weekOverWeekOverlap(df, "user_id", "ts")
      .orderBy("week").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // week 0→1: |{2,3}| / |{1,2,3,4}| = 0.5; week 1→2: disjoint → 0
    assert(out(0) == ((0L, 3L, 3L, 2L, 0.5)))
    assert(out(1) == ((1L, 3L, 1L, 0L, 0.0)))
  }

  test("lastTouchAttribution: recency, ties, lookback, unattributed") {
    import spark.implicits._
    val S = 1000000L
    val df = Seq(
      // user 1: view@200 beats click@100; purchase@250 → view
      (1L, 100 * S, 1L, "click"), (1L, 200 * S, 2L, "view"),
      (1L, 250 * S, 3L, "purchase"),
      // user 2: same-instant touches — max event_id (view) wins
      (2L, 100 * S, 4L, "click"), (2L, 100 * S, 5L, "view"),
      (2L, 150 * S, 6L, "purchase"),
      // user 3: touch too stale (lookback 100 s) → unattributed
      (3L, 0 * S, 7L, "click"), (3L, 500 * S, 8L, "purchase"),
      // user 4: no touch at all → unattributed
      (4L, 10 * S, 9L, "purchase"),
      // user 5: touch at the SAME instant as the purchase counts
      (5L, 100 * S, 10L, "click"), (5L, 100 * S, 11L, "purchase"))
      .toDF("user_id", "__us", "event_id", "event_type")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
    val out = Sessions.lastTouchAttribution(df, "user_id", "ts", "event_type",
        "purchase", Seq("click", "view"), lookbackMicros = 100 * S)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
      .toSet
    assert(out == Set(
      (Some("view"), 2L, 2L),   // users 1 and 2
      (Some("click"), 1L, 1L),  // user 5 (same-instant)
      (None, 2L, 2L)))          // users 3 (stale) and 4 (none)
  }

  test("containmentJoin: prefix filter == brute force, direction, threshold edge") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma"),                    // fully contained in 1
      (3L, "beta gamma delta theta"),              // 3/4 = 0.75 toward 1
      (4L, "kappa lambda"),                        // disjoint
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (6L, "zeta epsilon delta gamma beta alpha")) // set-equal to 1
      .toDF("id", "text")
    def brute(t: Double): Set[(Long, Long, Long, Long, Long, Double)] = {
      val sets = docs.collect().map(r => r.getLong(0) ->
        r.getString(1).split("\\s+").toSet).toMap
      (for {
        (a, ta) <- sets; (b, tb) <- sets; if a != b
        i = (ta & tb).size; if i.toDouble / ta.size >= t
      } yield (a, b, i.toLong, ta.size.toLong, tb.size.toLong,
        i.toDouble / ta.size)).toSet
    }
    for (t <- Seq(0.75, 0.9, 1.0)) {
      val got = Dedup.containmentJoin(docs, "id", "text", t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
      assert(got == brute(t), s"threshold $t") // incl. the >= edge at 0.75
    }
    // asymmetry: 2 ⊆ 1 at 1.0 while 1 → 2 is only 3/6
    val hi = Dedup.containmentJoin(docs, "id", "text", 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hi.contains((2L, 1L)) && !hi.contains((1L, 2L)))
    intercept[IllegalArgumentException](
      Dedup.containmentJoin(docs, "id", "text", 0.0))
    // 3-gram units: an embedded SPAN is contained; a scrambled doc with
    // the same vocabulary is not (the unigram-degeneracy fix)
    val span = Seq((1L, "a b c d e f"), (2L, "b c d"),
      (3L, "f e d c b a")).toDF("id", "text")
    val g3 = Dedup.containmentJoin(span, "id", "text", 0.9, shingle = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    assert(g3 == Set((2L, 1L, 1.0))) // 3 shares NO 3-gram with 1
    // docs shorter than the shingle emit nothing
    assert(Dedup.containmentJoin(Seq((1L, "a b"), (2L, "a b"))
      .toDF("id", "text"), "id", "text", 0.9, shingle = 3).count() == 0L)
  }

  test("rank family fuzz: ksTest/mannWhitneyU/rocAuc/spearman == brute force") {
    import spark.implicits._
    // heavy-tie regime on purpose: values drawn from a 7-point grid so
    // every midrank/tie-correction path runs; fixed seed
    val rnd = new scala.util.Random(20260815L)
    def sample(n: Int): Seq[Double] =
      Seq.fill(n)(rnd.nextInt(7).toDouble / 2.0)
    def midranks(all: Seq[Double]): Map[Double, Double] =
      all.groupBy(identity).map { case (v, g) =>
        val before = all.count(_ < v)
        v -> (2 * before + g.size + 1) / 2.0
      }
    for (round <- 1 to 3) {
      val a = sample(20 + rnd.nextInt(30)); val b = sample(15 + rnd.nextInt(30))
      val da = a.toDF("x"); val db = b.toDF("x")
      // KS brute force
      val values = (a ++ b).distinct.sorted
      val dExp = values.map(v => math.abs(
        a.count(_ <= v).toDouble / a.size -
          b.count(_ <= v).toDouble / b.size)).max
      val ks = Stats.ksTest(da, db, "x").collect()(0)
      assert(math.abs(ks.getDouble(3) - dExp) < 1e-12, s"KS round $round")
      // U brute force: pairs won + half ties
      val uExp = (for { x <- a; y <- b } yield
        if (x > y) 1.0 else if (x == y) 0.5 else 0.0).sum
      val mw = Stats.mannWhitneyU(da, db, "x").collect()(0)
      assert(math.abs(mw.getDouble(2) - uExp) < 1e-9, s"U round $round")
      // AUC = U / (na*nb) with labels
      val labeled = (a.map((_, true)) ++ b.map((_, false))).toDF("s", "l")
      val auc = Stats.rocAuc(labeled, "s", "l").collect()(0).getDouble(2)
      assert(math.abs(auc - uExp / (a.size * b.size)) < 1e-12,
        s"AUC round $round")
      // Spearman = Pearson over midranks (paired by index)
      val n = math.min(a.size, b.size)
      val xs = a.take(n); val ys = b.take(n)
      val rx = { val m = midranks(xs); xs.map(m) }
      val ry = { val m = midranks(ys); ys.map(m) }
      val nD = n.toDouble
      val num = nD * rx.zip(ry).map { case (p, q) => p * q }.sum -
        rx.sum * ry.sum
      val den = math.sqrt(nD * rx.map(v => v * v).sum - rx.sum * rx.sum) *
        math.sqrt(nD * ry.map(v => v * v).sum - ry.sum * ry.sum)
      val sp = Stats.spearman(xs.zip(ys).toDF("x", "y"), "x", "y")
        .collect()(0)
      if (den > 0)
        assert(math.abs(sp.getDouble(1) - num / den) < 1e-9,
          s"rho round $round")
    }
  }

  test("ksTest: hand-computed D, identical samples, disjoint supports, nulls") {
    import spark.implicits._
    // a={1,2,3}, b={2,3,4}: F diffs at 1,2,3,4 are 1/3,1/3,1/3,0 → D=1/3
    val a = Seq(1.0, 2.0, 3.0).toDF("x")
    val b = Seq(2.0, 3.0, 4.0).toDF("x")
    val out = Stats.ksTest(a, b, "x").collect()(0)
    assert(out.getLong(0) == 3L && out.getLong(1) == 3L &&
      out.getLong(2) == 4L)
    assert(math.abs(out.getDouble(3) - 1.0 / 3.0) < 1e-15)
    assert(math.abs(out.getDouble(4) -
      (1.0 / 3.0) * math.sqrt(9.0 / 6.0)) < 1e-15)
    // identical samples: every F difference is exactly 0
    assert(Stats.ksTest(a, a, "x").collect()(0).getDouble(3) == 0.0)
    // disjoint supports: D = 1 exactly
    assert(Stats.ksTest(a, Seq(10.0, 11.0).toDF("x"), "x")
      .collect()(0).getDouble(3) == 1.0)
    // nulls are excluded from counts and totals
    val withNull = a.unionByName(Seq[Option[Double]](None).toDF("x"))
    assert(Stats.ksTest(withNull, b, "x").collect()(0).getLong(0) == 3L)
  }

  test("containmentJoin: randomized brute-force parity (prefix lemma fuzz)") {
    import spark.implicits._
    // small vocabulary forces heavy unit collisions — the adversarial
    // regime for prefix filtering; fixed seed keeps the fuzz replayable
    val rnd = new scala.util.Random(20260815L)
    val vocab = ('a' to 'j').map(_.toString)
    for (round <- 1 to 4) {
      val shingle = if (round % 2 == 0) 2 else 1
      val threshold = Seq(0.5, 0.7, 0.9, 1.0)(round - 1)
      val docs = (1L to 20L).map { id =>
        val len = 1 + rnd.nextInt(10)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val got = Dedup.containmentJoin(docs.toDF("id", "text"), "id", "text",
          threshold, shingle).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      def units(t: String): Set[String] = {
        val ws = t.trim.split("\\s+").toSeq
        if (shingle == 1) ws.toSet
        else ws.sliding(shingle).filter(_.size == shingle)
          .map(_.mkString(" ")).toSet
      }
      val brute = (for {
        (a, ta0) <- docs; (b, tb0) <- docs; if a != b
        ta = units(ta0); tb = units(tb0); if ta.nonEmpty
        i = (ta & tb).size
        if i.toDouble / ta.size >= threshold
      } yield (a, b, i.toLong)).toSet
      assert(got == brute, s"round $round t=$threshold n=$shingle")
    }
  }

  test("ngramNovelty: verbatim copy 0, disjoint 1, partial, gram-less null") {
    import spark.implicits._
    val ref = Seq((1L, "a b c d e")).toDF("id", "text")
    val ev = Seq(
      (10L, "a b c d e"),      // verbatim → novelty 0
      (11L, "x y z w"),        // disjoint  → novelty 1
      (12L, "a b c x y z"),    // grams: abc(seen), bcx, cxy, xyz → 3/4
      (13L, "a b")).toDF("id", "text") // no 3-grams → null
    val out = Text.ngramNovelty(ev, ref, "text", "id", n = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))
    assert(out(0) == ((10L, 3L, 0L, 0.0)))
    assert(out(1) == ((11L, 2L, 2L, 1.0)))
    assert(out(2) == ((12L, 4L, 3L, 0.75)))
    assert(out(3) == ((13L, 0L, 0L, null)))
  }

  test("cramersV: perfect association, independence, degenerate 1-column") {
    import spark.implicits._
    // perfect 2×2 association: chi2 = n → V = 1 (within sqrt ulp)
    val perfect = (Seq.fill(6)(("a", "x")) ++ Seq.fill(4)(("b", "y")))
      .toDF("r", "c")
    val p = Stats.cramersV(perfect, "r", "c").collect()(0)
    assert(p.getLong(2) == 10L && math.abs(p.getDouble(3) - 1.0) < 1e-12)
    // exact independence: every observed cell equals expected → V = 0
    val indep = (for { r <- Seq("a", "b"); c <- Seq("x", "y");
      _ <- 1 to 5 } yield (r, c)).toDF("r", "c")
    val i = Stats.cramersV(indep, "r", "c").collect()(0)
    assert(math.abs(i.getDouble(3)) < 1e-12)
    // single-column contingency: min(r−1, c−1) = 0 → null V
    val deg = Seq(("a", "x"), ("b", "x")).toDF("r", "c")
    assert(Stats.cramersV(deg, "r", "c").collect()(0).isNullAt(3))
  }

  test("rocAuc: separable, random, tie half-credit, inverted ranker") {
    import spark.implicits._
    // perfectly separable → 1.0; inverted → 0.0 (both exact)
    val sep = Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))
      .toDF("s", "l")
    assert(Stats.rocAuc(sep, "s", "l").collect()(0).getDouble(2) == 1.0)
    val inv = Seq((0.1, true), (0.2, true), (0.8, false), (0.9, false))
      .toDF("s", "l")
    assert(Stats.rocAuc(inv, "s", "l").collect()(0).getDouble(2) == 0.0)
    // hand case with a tie: pos {0.8, 0.5}, neg {0.5, 0.3}:
    // pairs: .8>.5, .8>.3, .5=.5 (½), .5>.3 → AUC = 3.5/4
    val tie = Seq((0.8, true), (0.5, true), (0.5, false), (0.3, false))
      .toDF("s", "l")
    val o = Stats.rocAuc(tie, "s", "l").collect()(0)
    assert(o.getLong(0) == 2L && o.getLong(1) == 2L &&
      o.getDouble(2) == 3.5 / 4.0)
    // constant score: every pair is a tie → exactly 0.5
    val const = Seq((0.5, true), (0.5, false), (0.5, false)).toDF("s", "l")
    assert(Stats.rocAuc(const, "s", "l").collect()(0).getDouble(2) == 0.5)
  }

  test("spearman: perfect monotone, midrank ties vs Pearson-on-ranks, degenerate") {
    import spark.implicits._
    val mono = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0), (4.0, 40.0))
      .toDF("x", "y")
    // sqrt(vx)·sqrt(vy) re-rounds once vs the exact vx — ±1 up to 1 ulp
    assert(math.abs(Stats.spearman(mono, "x", "y").collect()(0)
      .getDouble(1) - 1.0) < 1e-12)
    val anti = Seq((1.0, 40.0), (2.0, 30.0), (3.0, 20.0), (4.0, 10.0))
      .toDF("x", "y")
    assert(math.abs(Stats.spearman(anti, "x", "y").collect()(0)
      .getDouble(1) + 1.0) < 1e-12)
    // ties: y = (2,2,5,4,5) → midranks (1.5, 1.5, 4.5, 3, 4.5);
    // expected = Pearson over (1..5) × those midranks
    val tied = Seq((1.0, 2.0), (2.0, 2.0), (3.0, 5.0), (4.0, 4.0),
      (5.0, 5.0)).toDF("x", "y")
    val rx = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    val ry = Seq(1.5, 1.5, 4.5, 3.0, 4.5)
    val n = 5.0
    val exp = (n * rx.zip(ry).map { case (a2, b2) => a2 * b2 }.sum -
      rx.sum * ry.sum) /
      (math.sqrt(n * rx.map(v => v * v).sum - rx.sum * rx.sum) *
        math.sqrt(n * ry.map(v => v * v).sum - ry.sum * ry.sum))
    val got = Stats.spearman(tied, "x", "y").collect()(0).getDouble(1)
    assert(math.abs(got - exp) < 1e-12)
    // constant marginal: variance 0 → null
    val deg = Seq((1.0, 7.0), (2.0, 7.0)).toDF("x", "y")
    assert(Stats.spearman(deg, "x", "y").collect()(0).isNullAt(1))
  }

  test("truncationBudget: exact per-cap sums, empty text, guards") {
    import spark.implicits._
    // token counts 2, 5, 0 — at cap 3: kept 2+3+0=5, truncated 1;
    // at cap 5: kept 7, truncated 0
    val docs = Seq("a b", "a b c d e", " ").toDF("text")
    val out = Text.truncationBudget(docs, "text", Seq(3, 5))
      .orderBy("max_len").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out(0) == ((3, 1L, 5L, 7L, 5.0 / 7.0)))
    assert(out(1) == ((5, 0L, 7L, 7L, 1.0)))
    intercept[IllegalArgumentException](
      Text.truncationBudget(docs, "text", Seq.empty))
    intercept[IllegalArgumentException](
      Text.truncationBudget(docs, "text", Seq(3, 3)))
  }

  test("benjaminiHochberg: textbook step-up, suffix-min monotonicity, ties") {
    import spark.implicits._
    // binary-exact p's (k/64) so the textbook expectation has no float
    // boundary: raw q = p_k·5/k = {0.078125, 0.0390625, 0.0520833…,
    // 0.0585937…, 0.8}; suffix minima → {.0390625 ×2, .0520833…,
    // .0585937…, .8}; reject ranks 1-2 at α=.05 (classical step-up:
    // largest k with p_k ≤ k·α/m is k=2)
    val df = Seq((1L, 1.0 / 64), (2L, 1.0 / 64), (3L, 2.0 / 64),
      (4L, 3.0 / 64), (5L, 0.8)).toDF("id", "p")
    val out = Stats.benjaminiHochberg(df, "id", "p").orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // brute-force replica with the identical p·m/rank chain: exact
    // double equality expected
    val ps = Seq(1.0 / 64, 1.0 / 64, 2.0 / 64, 3.0 / 64, 0.8)
    val raw = ps.zipWithIndex.map { case (p, i) => p * 5 / (i + 1) }
    val qExp = raw.indices.map(i => raw.drop(i).min.min(1.0))
    assert(out.map(_._3).toSeq == qExp)
    assert(out.map(_._4).toSeq == qExp.map(_ <= 0.05))
    assert(out.count(_._4) == 2)
    // q is non-decreasing in rank and never exceeds 1
    val rnd = new scala.util.Random(7L)
    val big = (1L to 200L).map(i => (i, rnd.nextDouble())).toDF("id", "p")
    val qs = Stats.benjaminiHochberg(big, "id", "p").orderBy("rank")
      .select("q_value").collect().map(_.getDouble(0))
    assert(qs.zip(qs.tail).forall { case (a2, b2) => a2 <= b2 } &&
      qs.forall(_ <= 1.0))
    // tied p's rank deterministically by id
    val tied = Stats.benjaminiHochberg(
      Seq((9L, 0.5), (3L, 0.5), (7L, 0.5)).toDF("id", "p"), "id", "p")
      .orderBy("rank").select("id").collect().map(_.getLong(0)).toSeq
    assert(tied == Seq(3L, 7L, 9L))
    intercept[IllegalArgumentException](
      Stats.benjaminiHochberg(df, "id", "p", alpha = 0.0))
  }

  test("hits fuzz: random directed graphs == brute-force power iteration") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    for (round <- 1 to 3) {
      val nNodes = 6 + rnd.nextInt(6)
      val edges = (1 to 25).map(_ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (s2, d2) => s2 != d2 }.distinct
      val iters = 1 + rnd.nextInt(3)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      var hub = nodes.map(_ -> 1.0).toMap
      var auth = Map.empty[Long, Double]
      for (_ <- 1 to iters) {
        auth = nodes.map(n =>
          n -> edges.filter(_._2 == n).map(e => hub(e._1)).sum).toMap
        hub = nodes.map(n =>
          n -> edges.filter(_._1 == n).map(e => auth(e._2)).sum).toMap
      }
      val mh = hub.values.max; val ma = auth.values.max
      val exp = nodes.map(n => (n,
        if (mh > 0) hub(n) / mh else 0.0,
        if (ma > 0) auth(n) / ma else 0.0)).toSet
      val got = Graph.hits(edges.toDF("s", "d"), "s", "d", iters).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(got == exp, s"round $round iters=$iters") // integer-exact
    }
  }

  test("hits: hand-computed 2-round trajectory, zero-degree nodes, iters bound") {
    import spark.implicits._
    // 1→3, 2→3, 3→4: a1 = indeg {3:2, 4:1}; h1 = {1:2, 2:2, 3:1};
    // a2 = {3:4, 4:1}; h2 = {1:4, 2:4, 3:1} → max-normalized exactly
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val out = Graph.hits(e, "s", "d", iters = 2).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((1.0, 0.0)) && out(2L) == ((1.0, 0.0)))
    assert(out(3L) == ((0.25, 1.0)) && out(4L) == ((0.0, 0.25)))
    intercept[IllegalArgumentException](Graph.hits(e, "s", "d", iters = 0))
    intercept[IllegalArgumentException](Graph.hits(e, "s", "d", iters = 7))
  }

  test("mannWhitneyU: hand-computed midranks, tie correction, degenerate sigma") {
    import spark.implicits._
    // a={1,2,3}, b={2,3,4}: midranks 1, 2.5, 4.5 → R_a=8 → U_a=2, U_b=7;
    // ties: two t=2 blocks → Σ(t³−t)=12
    val a = Seq(1.0, 2.0, 3.0).toDF("x")
    val b = Seq(2.0, 3.0, 4.0).toDF("x")
    val out = Stats.mannWhitneyU(a, b, "x").collect()(0)
    assert(out.getLong(0) == 3L && out.getLong(1) == 3L)
    assert(out.getDouble(2) == 2.0 && out.getDouble(3) == 7.0)
    val sigma = math.sqrt(9.0 / 12.0 * (7.0 - 12.0 / 30.0))
    assert(math.abs(out.getDouble(4) - (2.0 - 4.5) / sigma) < 1e-12)
    // U_a + U_b ≡ n_a·n_b also under heavy ties
    val c = Seq(5.0, 5.0, 5.0, 6.0).toDF("x")
    val o2 = Stats.mannWhitneyU(c, Seq(5.0, 6.0, 6.0).toDF("x"), "x")
      .collect()(0)
    assert(o2.getDouble(2) + o2.getDouble(3) == 12.0)
    // all values equal: sigma = 0 → z null, U_a = ties/2 = n_a·n_b/2
    val deg = Stats.mannWhitneyU(Seq(7.0, 7.0).toDF("x"),
      Seq(7.0).toDF("x"), "x").collect()(0)
    assert(deg.getDouble(2) == 1.0 && deg.isNullAt(4))
  }

  test("psiCategorical: hand-computed terms, one-sided keys, zero drift, nulls") {
    import spark.implicits._
    def frame(kv: (String, Int)*): org.apache.spark.sql.DataFrame =
      kv.flatMap { case (k, n) => Seq.fill(n)(k) }.toDF("k")
    val a = frame("x" -> 8, "y" -> 2)
    val b = frame("x" -> 5, "y" -> 4, "z" -> 1)
    val out = Stats.psiCategorical(a, b, "k").collect()(0)
    val expected = (0.8 - 0.5) * math.log(0.8 / 0.5) +
      (0.2 - 0.4) * math.log(0.2 / 0.4)
    assert(out.getLong(0) == 10L && out.getLong(1) == 10L)
    assert(out.getLong(2) == 2L && out.getLong(3) == 1L) // z is one-sided
    assert(math.abs(out.getDouble(4) - expected) < 1e-12)
    // identical mixes: every term is (p−p)·ln(1) = exactly 0
    val same = Stats.psiCategorical(a, frame("x" -> 4, "y" -> 1), "k")
      .collect()(0)
    assert(same.getDouble(4) == 0.0 && same.getLong(3) == 0L)
    // null keys are excluded from both counts and totals
    val withNull = a.unionByName(Seq(null.asInstanceOf[String]).toDF("k"))
    assert(Stats.psiCategorical(withNull, b, "k").collect()(0).getLong(0) == 10L)
  }

  test("truncationRecall: identity at full dim, engineered flip, k_full < k") {
    import spark.implicits._
    // q=(1,0,0,1); full ranking: a(cos 1) > c(0.9487) > b(0.707);
    // first-2-dims ranking: all cos 1 → ties by id → {a, b}
    val corpus = Seq((1L, Seq(1.0, 0.0, 0.0, 1.0)),
      (2L, Seq(1.0, 0.0, 0.0, 0.0)),
      (3L, Seq(0.5, 0.0, 0.0, 1.0))).toDF("id", "v")
    val queries = Seq((100L, Seq(1.0, 0.0, 0.0, 1.0))).toDF("id", "v")
    val out = Similarity.truncationRecall(corpus, queries, "id", "v",
        k = 2, dims = Seq(2, 4))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(out == Set((2, 100L, 1L, 2L, 0.5),  // {1,2} ∩ {1,3} = {1}
      (4, 100L, 2L, 2L, 1.0)))                 // full-length slice ≡ full
    // corpus smaller than k: k_full is the real denominator
    val small = Similarity.truncationRecall(corpus, queries, "id", "v",
        k = 5, dims = Seq(4)).collect()(0)
    assert(small.getLong(3) == 3L && small.getDouble(4) == 1.0)
    intercept[IllegalArgumentException](Similarity.truncationRecall(
      corpus, queries, "id", "v", 2, Seq(2, 2)))
    intercept[IllegalArgumentException](Similarity.truncationRecall(
      corpus, queries, "id", "v", 2, Seq.empty))
  }

  test("mixToBudget: rates, caps, deficits, unlisted domains, determinism") {
    import spark.implicits._
    // a: 10 docs × 10 tokens = 100 avail; b: 4 × 10 = 40; c unlisted
    val docs = ((1L to 10L).map(i => (i, "a")) ++
      (11L to 14L).map(i => (i, "b")) ++
      (15L to 19L).map(i => (i, "c"))).toDF("id", "dom")
      .withColumn("tk", lit(10L))
    val out = Sampling.mixToBudget(docs, "id", "dom", col("tk"),
      budgetTokens = 100L, targetWeights = Seq("a" -> 1.0, "b" -> 1.0))
    val audit = out.select("dom", "avail_tokens", "target_tokens",
        "rate_bp", "deficit").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // targets 50/50; a samples at 5000 bp, b is capped whole (deficit 10)
    assert(audit == Set(("a", 100L, 50L, 5000L, 0L),
      ("b", 40L, 50L, 10000L, 10L)))
    // kept set = exactly the md5-bucket predicate, and unlisted c is gone
    val expected = docs.filter(col("dom") === "a" &&
        Sampling.hashBucket(col("id")) < 5000 || col("dom") === "b")
      .select("id").as[Long].collect().toSet
    val kept = out.select("id").as[Long].collect().toSet
    assert(kept == expected && !kept.exists(id => id >= 15L))
    // pure function of the key: a re-run is identical
    assert(Sampling.mixToBudget(docs, "id", "dom", col("tk"), 100L,
      Seq("a" -> 1.0, "b" -> 1.0)).select("id").as[Long].collect().toSet == kept)
    // fractional weights quantize to micro-units: 3:1 over budget 80
    val audit2 = Sampling.mixToBudget(docs, "id", "dom", col("tk"), 80L,
        Seq("a" -> 1.5, "b" -> 0.5))
      .select("dom", "target_tokens").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(audit2 == Set(("a", 60L), ("b", 20L)))
    intercept[IllegalArgumentException](
      Sampling.mixToBudget(docs, "id", "dom", col("tk"), 0L, Seq("a" -> 1.0)))
    intercept[IllegalArgumentException](
      Sampling.mixToBudget(docs, "id", "dom", col("tk"), 10L, Seq.empty))
    intercept[IllegalArgumentException](Sampling.mixToBudget(docs, "id",
      "dom", col("tk"), 10L, Seq("a" -> 1.0, "a" -> 2.0)))
    intercept[IllegalArgumentException](Sampling.mixToBudget(docs, "id",
      "dom", col("tk"), 10L, Seq("a" -> -1.0)))
  }

  test("samplers are layout-independent: repartitioned input, identical output") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "dom").withColumn("tk", (col("id") % 7 + 1).cast("long"))
    def kept(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Sampling.mixToBudgetEpochs(df, "id", "dom", col("tk"), 500L,
        Seq("a" -> 2.0, "b" -> 1.0), maxEpochs = 3)
        .select("id", "epoch").as[(Long, Long)].collect().toSet
    val base = kept(docs)
    assert(base == kept(docs.repartition(17)) &&
      base == kept(docs.repartition(1)) &&
      base == kept(docs.orderBy(col("id").desc)))
    def kept2(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Sampling.mixToBudget(df, "id", "dom", col("tk"), 300L,
        Seq("a" -> 1.0, "b" -> 1.0)).select("id").as[Long].collect().toSet
    assert(kept2(docs) == kept2(docs.repartition(13)))
  }

  test("mixToBudgetEpochs: full copies, fractional epoch, cap + deficit") {
    import spark.implicits._
    val docs = (1L to 4L).map(i => (i, "a")).toDF("id", "dom")
      .withColumn("tk", lit(10L))
    // target 100 over avail 40 → r = 2.5 epochs: full 2, frac 5000 bp
    val out = Sampling.mixToBudgetEpochs(docs, "id", "dom", col("tk"),
      budgetTokens = 100L, targetWeights = Seq("a" -> 1.0), maxEpochs = 3)
    val audit = out.select("avail_tokens", "target_tokens",
        "rate_bp_total", "full_epochs", "frac_bp", "deficit")
      .distinct().collect()(0)
    assert(audit.getLong(0) == 40L && audit.getLong(1) == 100L)
    assert(audit.getLong(2) == 25000L && audit.getLong(3) == 2L &&
      audit.getLong(4) == 5000L && audit.getLong(5) == 0L)
    // every doc twice (epochs 0,1) + the md5-picked half once more
    val picked = docs.filter(Sampling.hashBucket(col("id")) < 5000)
      .select("id").as[Long].collect().toSet
    val emitted = out.select("id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (1L to 4L).flatMap(i => Seq((i, 0L), (i, 1L))).toSet ++
      picked.map(i => (i, 2L))
    assert(emitted == expected)
    // the cap binds: maxEpochs 2 → no fractional epoch, deficit 20
    val capped = Sampling.mixToBudgetEpochs(docs, "id", "dom", col("tk"),
        100L, Seq("a" -> 1.0), maxEpochs = 2)
      .select("rate_bp_total", "full_epochs", "frac_bp", "deficit")
      .distinct().collect()(0)
    assert(capped.getLong(0) == 20000L && capped.getLong(1) == 2L &&
      capped.getLong(2) == 0L && capped.getLong(3) == 20L)
    intercept[IllegalArgumentException](Sampling.mixToBudgetEpochs(
      docs, "id", "dom", col("tk"), 100L, Seq("a" -> 1.0), maxEpochs = 0))
  }

  test("mixToBudget: zero-availability domain is kept whole with full deficit") {
    import spark.implicits._
    // domain z: rows exist but every token count is 0 or null — the
    // contract's limit case: kept whole (rate 10000), deficit = target,
    // never a silent disappearance (the DIV would yield null and drop it)
    val docs = ((1L to 20L).map(i => (i, "a", 10L: java.lang.Long)) ++
      Seq((21L, "z", 0L: java.lang.Long), (22L, "z", null: java.lang.Long)))
      .toDF("id", "dom", "tk")
    val out = Sampling.mixToBudget(docs, "id", "dom", col("tk"),
      budgetTokens = 160L, targetWeights = Seq("a" -> 1.0, "z" -> 1.0))
    val audit = out.select("dom", "avail_tokens", "rate_bp", "deficit")
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(audit == Set(("a", 200L, 4000L, 0L), ("z", 0L, 10000L, 80L)))
    assert(out.filter(col("dom") === "z").select("id").as[Long]
      .collect().toSet == Set(21L, 22L))
    // epochs variant: rate caps at maxEpochs (the avail→0 limit), every
    // z row emits maxEpochs copies, deficit = full target
    val ep = Sampling.mixToBudgetEpochs(docs, "id", "dom", col("tk"),
      160L, Seq("a" -> 1.0, "z" -> 1.0), maxEpochs = 2)
    val zAudit = ep.filter(col("dom") === "z")
      .select("rate_bp_total", "full_epochs", "deficit").distinct().collect()(0)
    assert(zAudit.getLong(0) == 20000L && zAudit.getLong(1) == 2L &&
      zAudit.getLong(2) == 80L)
    assert(ep.filter(col("dom") === "z").select("id", "epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((21L, 0L), (21L, 1L), (22L, 0L), (22L, 1L)))
  }

  test("hits: 2^53 magnitude assert fires instead of silently rounding") {
    import spark.implicits._
    // complete bipartite K(150,150) doubled both directions: scores grow
    // as deg^(2·iters) → 150^8 ≈ 2.6e17 ≫ 2^53 at iters 4 — the degree-
    // dependent growth the iters cap alone cannot bound
    val l = (0L until 150L).map(i => i)
    val r = (1000L until 1150L).map(i => i)
    val e = (for { a <- l; b <- r } yield Seq((a, b), (b, a))).flatten
      .toDF("s", "d")
    val ex = intercept[Exception] {
      Graph.hits(e, "s", "d", iters = 4).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(ex).exists(_.contains("2^53")), s"unexpected error: $ex")
    // the same graph at iters 2 (150^4 ≈ 5e8, exact) passes
    assert(Graph.hits(e, "s", "d", iters = 2).count() == 300L)
  }

  test("containmentJoin: exact integer prefix bound at an IEEE ceil boundary") {
    import spark.implicits._
    // t·n an exact integer (0.07 × 100 = 7) where IEEE multiplication
    // lands at 7.000000000000001 → ceil 8 → a one-short prefix. The 7
    // shared tokens are the corpus's HOTTEST (highest df — sorted last),
    // so doc A's prefix must reach position 94 to touch any of them: the
    // float bound missed this exactly-at-threshold pair, the integer
    // bound finds it.
    val shared = (1 to 7).map(i => f"zz$i%02d")
    val aText = ((1 to 93).map(i => f"u$i%03d") ++ shared).mkString(" ")
    // 9 filler docs make the shared tokens high-df (df 10 vs df 1)
    val fillers = (1 to 9).map(i => (100L + i, shared.mkString(" ") +
      s" f$i a$i b$i c$i d$i e$i g$i h$i j$i k$i l$i m$i n$i"))
    val docs = (Seq((1L, aText)) ++ fillers).toDF("id", "text")
    val out = Dedup.containmentJoin(docs, "id", "text", threshold = 0.07)
      .filter(col("id_a") === 1L).collect()
    assert(out.nonEmpty, "exactly-at-threshold pair missed by the prefix")
    assert(out.forall(r => r.getLong(2) == 7L &&
      r.getDouble(5) >= 0.07))
  }

  test("occupancyBoundFrame: exact percentile_disc rule, layout-independent") {
    import spark.implicits._
    // 1000 occupancy values: 999 ones + one 50 → rank ceil(999·1000/1000)
    // = 999 → value 1 → bound = 64 (floor dominates)
    val occ1 = ((1 to 999).map(_ => 1L) ++ Seq(50L)).toDF("__occ")
    assert(Dedup.occupancyBoundFrame(occ1).collect()(0).getLong(0) == 64L)
    // 1000 values: 998 ones + two 50s → rank 999 → value 50 → 16·50 = 800
    val occ2 = ((1 to 998).map(_ => 1L) ++ Seq(50L, 50L)).toDF("__occ")
    assert(Dedup.occupancyBoundFrame(occ2).collect()(0).getLong(0) == 800L)
    // exact ⇒ identical under any partitioning (the approx sketch could
    // drift with merge order)
    assert(Dedup.occupancyBoundFrame(occ2.repartition(7)).collect()(0)
      .getLong(0) == 800L)
    assert(Dedup.occupancyBoundFrame(occ2.repartition(1)).collect()(0)
      .getLong(0) == 800L)
    // empty occupancy frame → the 64 floor
    assert(Dedup.occupancyBoundFrame(occ1.limit(0)).collect()(0)
      .getLong(0) == 64L)
    // randomized cross-check: the in-plan percentile_disc selection must
    // equal the independent INTEGER rank rule (value at ascending rank
    // (999·n + 999) DIV 1000) that the q119 oracle replays — including
    // boundary-heavy shapes (n multiples of 1000, heavy ties)
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 30) {
      val n = Seq(50, 999, 1000, 1001, 2000, 5000)(rnd.nextInt(6))
      val vals = Seq.fill(n)(
        if (rnd.nextInt(4) == 0) rnd.nextInt(500).toLong + 1L
        else rnd.nextInt(3).toLong + 1L)
      val sorted = vals.sorted
      val rank = ((999L * n + 999L) / 1000L).toInt
      val expect = math.max(64L, 16L * sorted(rank - 1))
      val got = Dedup.occupancyBoundFrame(
        spark.createDataset(vals)(org.apache.spark.sql.Encoders.scalaLong)
          .toDF("__occ").repartition(1 + rnd.nextInt(8)))
        .collect()(0).getLong(0)
      assert(got == expect, s"n=$n got=$got expect=$expect")
    }
  }

  test("cohenKappa: textbook 2x2, null exclusion, degenerate corpus") {
    import spark.implicits._
    // classic example: po=0.7, pe=0.5, kappa=0.4 — all exactly
    // representable, so equality is exact
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(15)(("n", "n")) ++
      Seq.fill(5)(("y", "n")) ++ Seq.fill(10)(("n", "y"))
    val out = Stats.cohenKappa(rows.toDF("a", "b"), "a", "b").collect()(0)
    assert(out.getLong(0) == 50L && out.getLong(1) == 35L)
    assert(out.getDouble(2) == 0.7 && out.getDouble(3) == 0.5 &&
      out.getDouble(4) == 0.4)
    // null labels are un-annotated items, not disagreements
    val withNulls = (rows ++ Seq(("y", null), (null, "n"), (null, null)))
      .toDF("a", "b")
    val out2 = Stats.cohenKappa(withNulls, "a", "b").collect()(0)
    assert(out2.getLong(0) == 50L && out2.getDouble(4) == 0.4)
    // both annotators constant and equal: pe = 1 → kappa undefined (null)
    val deg = Stats.cohenKappa(Seq.fill(7)(("x", "x")).toDF("a", "b"),
      "a", "b").collect()(0)
    assert(deg.getLong(0) == 7L && deg.getDouble(2) == 1.0 &&
      deg.getDouble(3) == 1.0 && deg.isNullAt(4))
    // disjoint label sets: pe = 0, kappa = po = 0
    val dis = Stats.cohenKappa(Seq(("x", "y"), ("x", "y")).toDF("a", "b"),
      "a", "b").collect()(0)
    assert(dis.getDouble(3) == 0.0 && dis.getDouble(4) == 0.0)
  }

  test("daviesBouldin: hand-computed 2D case, empty cluster, single cluster") {
    import spark.implicits._
    val cents = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "cvec")
    // cosine assignment is unambiguous: a* align with c1, b* with c2
    val pts = Seq((10L, Seq(2.0, 0.0)), (11L, Seq(4.0, 1.0)),
      (20L, Seq(0.0, 3.0)), (21L, Seq(1.0, 4.0))).toDF("id", "v")
    val out = Clustering.daviesBouldin(pts, cents, "id", "v")
      .orderBy("cluster_id").collect()
    val s1 = (1.0 + math.sqrt(10.0)) / 2 // ‖(2,0)−c1‖, ‖(4,1)−c1‖
    val s2 = (2.0 + math.sqrt(10.0)) / 2 // ‖(0,3)−c2‖, ‖(1,4)−c2‖
    val r = (s1 + s2) / math.sqrt(2.0)   // d(c1,c2) = √2, only pair
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    assert(math.abs(out(0).getDouble(2) - s1) < 1e-12)
    assert(math.abs(out(1).getDouble(2) - s2) < 1e-12)
    out.foreach { row =>
      assert(math.abs(row.getDouble(3) - r) < 1e-12)
      assert(math.abs(row.getDouble(4) - r) < 1e-12)
    }
    // an empty cluster (nothing assigns to a negative-direction centroid)
    // is excluded from rows AND from the pairwise max
    val cents3 = cents.unionByName(
      Seq((3L, Seq(-1.0, -1.0))).toDF("centroid_id", "cvec"))
    val out3 = Clustering.daviesBouldin(pts, cents3, "id", "v")
      .orderBy("cluster_id").collect()
    assert(out3.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(math.abs(out3(0).getDouble(4) - r) < 1e-12)
    // a single non-empty cluster has no j≠i: r_max and db_index null
    val one = Clustering.daviesBouldin(pts,
      Seq((1L, Seq(1.0, 1.0))).toDF("centroid_id", "cvec"), "id", "v")
      .collect()
    assert(one.length == 1 && one(0).isNullAt(3) && one(0).isNullAt(4))
  }

  // ---------------------------------------------------- duplicate spans

  /** Brute-force reference for duplicateSpans: same definition, no Spark —
    * global l-gram occurrence counts, flagged windows, island merge. */
  private def bruteSpans(docs: Seq[(Long, String)], l: Int,
                         minCount: Int): Seq[(Long, Long, Long, Long)] = {
    def toks(s: String) = s.trim.split("\\s+", -1).toSeq
    val grams = docs.flatMap { case (id, t) =>
      toks(t).sliding(l).zipWithIndex.collect {
        case (g, p) if g.size == l => (id, p, g.mkString(" "))
      }
    }
    val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
    docs.flatMap { case (id, t) =>
      val hits = grams.filter(g => g._1 == id && counts(g._3) >= minCount)
        .map(_._2).sorted
      val spans = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
      hits.foreach { p =>
        spans.lastOption match {
          case Some((s0, e0)) if p <= e0 + 1 =>
            spans(spans.length - 1) = (s0, math.max(e0, p + l - 1))
          case _ => spans += ((p, p + l - 1))
        }
      }
      spans.map { case (s0, e0) =>
        (id, s0 + 1L, e0 + 1L, (e0 - s0 + 1).toLong)
      }
    }.sortBy(r => (r._1, r._2))
  }

  test("duplicateSpans: planted cross-doc + within-doc spans, merge, edges") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val docs = Seq(
      // cross-doc duplicate: the 8-token run appears in docs 1 and 2 at
      // different offsets (expect one l=4-resolution span covering it)
      1L -> s"one two three $shared tail1 tail2",
      2L -> s"$shared middle unrelated words here",
      // within-doc repetition: the same 4 tokens twice in one doc
      3L -> "rep a b c rep a b c distinct ending tokens",
      // too short for any l-gram
      4L -> "tiny doc",
      // no duplicated grams at all
      5L -> "entirely unique vocabulary without any repeated window at all")
    val out = Dedup.duplicateSpans(docs.toDF("doc_id", "text"),
        "text", "doc_id", l = 4)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == bruteSpans(docs, 4, 2))
    // the shared run is found in BOTH docs, span length == 8 (maximal,
    // windows merged), positioned at each doc's own offset
    assert(out.contains((1L, 4L, 11L, 8L)))
    assert(out.contains((2L, 1L, 8L, 8L)))
    // within-doc repeat flags both occurrences (merged into ONE span here:
    // windows [1..4] and [5..8] are back-to-back → one 8-token span)
    assert(out.filter(_._1 == 3L) == Seq((3L, 1L, 8L, 8L)))
    assert(!out.exists(r => r._1 == 4L || r._1 == 5L))
    // span_len always >= l and == end - start + 1
    out.foreach { case (_, s0, e0, len) =>
      assert(len >= 4 && len == e0 - s0 + 1)
    }
  }

  test("removeDuplicateSpans: cut text, savings, no-span and full-cover docs") {
    import spark.implicits._
    val docs = Seq(
      1L -> "x1 x2 a b c d e f g h y1 y2",   // shared 8-run mid-doc
      2L -> "a b c d e f g h",                // the whole doc IS the run
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9")     // untouched
    val out = Dedup.removeDuplicateSpans(docs.toDF("doc_id", "text"),
        "text", "doc_id", l = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    // doc 1: tokens 3..10 cut; doc 2: everything cut (empty clean text);
    // doc 3: no spans, text reassembles whitespace-normalized
    assert(out == Seq(
      (1L, 1L, 8L, 4L, "x1 x2 y1 y2"),
      (2L, 1L, 8L, 0L, ""),
      (3L, 0L, 0L, 9L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")))
    // savings identity vs the spans view itself
    val spans = Dedup.duplicateSpans(docs.toDF("doc_id", "text"),
        "text", "doc_id", l = 8)
      .groupBy("doc_id").agg(sum("span_len").as("rm")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, _, removed, _, _) =>
      assert(removed == spans.getOrElse(id, 0L))
    }
  }

  test("contaminationSpans: planted eval copy contaminates end to end; " +
       "clean docs silent") {
    import spark.implicits._
    val ref = Seq(
      100L -> "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10",
      101L -> "f1 f2 f3 f4 f5 f6 f7 f8").toDF("doc_id", "text")
    val train = Seq(
      1L -> "pre1 pre2 e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 post1", // full eval run
      2L -> "f1 f2 f3 f4 f5 f6 f7 DIFFERENT",                 // 7-overlap: below l
      3L -> "c1 c2 c3 c4 c5 c6 c7 c8 c9")                     // clean
    val out = Dedup.contaminationSpans(train.toDF("doc_id", "text"), ref,
        "text", "doc_id", l = 8)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc 1: positions 3..12 (the ten eval tokens) — windows at p=2,3,4
    // (0-based) merge to [2, 11] → 1-based (3, 12); docs 2-3 silent
    assert(out == Seq((1L, 3L, 12L, 10L)))
    // and symmetric sanity: pointing at an empty reference flags nothing
    assert(Dedup.contaminationSpans(train.toDF("doc_id", "text"),
      ref.limit(0), "text", "doc_id", l = 8).isEmpty)
  }

  test("duplicateSpans fuzz: random small-vocab corpora == brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 0 until 6) {
      val vocab = Vector("aa", "bb", "cc", "dd") // tiny → dense collisions
      val docs = (0 until 12).map { id =>
        val n = 3 + rnd.nextInt(15)
        id.toLong -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val l = 2 + rnd.nextInt(3)
      val got = Dedup.duplicateSpans(
          docs.toDF("doc_id", "text").repartition(3 + trial % 3),
          "text", "doc_id", l = l)
        .orderBy("doc_id", "span_start")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == bruteSpans(docs, l, 2),
        s"trial $trial l=$l: $got vs ${bruteSpans(docs, l, 2)}")
    }
  }

  test("writeCompacted refuses an empty __batch-carrying log (a null max " +
       "would land rows under __HIVE_DEFAULT_PARTITION__, invisible to " +
       "every probe)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_wcempty").toString
    try {
      val log = Seq((1L, "a")).toDF("k", "v")
        .withColumn("__batch", lit(0L)).limit(0)
      val ex = intercept[IllegalArgumentException] {
        Materialize.writeCompacted(log.groupBy("k").agg(count(lit(1)).as("n")),
          log, s"$base/out")
      }
      assert(ex.getMessage.contains("cannot compact an empty log"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("compactAggState over DECIMAL partials: the fold casts back to the " +
       "log's physical type so compacted files and later appends never " +
       "mix parquet decimal widths") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_aggdec").toString
    try {
      val mk = (ks: Seq[(String, String)]) => ks.toDF("k", "raw")
        .select(col("k"), col("raw").cast("decimal(18,6)").as("v"))
      Materialize.appendAggState(spark, s"$base/log",
        mk(Seq("a" -> "1.25", "b" -> "2.5")), Seq("k"), "v")
      Materialize.appendAggState(spark, s"$base/log",
        mk(Seq("a" -> "3.75")), Seq("k"), "v")
      Materialize.compactAggState(spark, s"$base/log", s"$base/log2", Seq("k"))
      // schema stable: the compacted __sum keeps the partials' decimal
      val t = spark.read.parquet(s"$base/log2").schema("__sum").dataType
      assert(t == org.apache.spark.sql.types.DecimalType(28, 6), t)
      // append AFTER compaction and read the union — the q253 lifecycle
      Materialize.appendAggState(spark, s"$base/log2",
        mk(Seq("b" -> "0.5", "c" -> "9.0")), Seq("k"), "v")
      val got = Materialize.readAggState(spark, s"$base/log2", Seq("k"))
        .select(col("k"), col("n"), col("total").cast("double"))
        .as[(String, Long, Double)].collect().toSet
      assert(got == Set(("a", 2L, 5.0), ("b", 2L, 3.0), ("c", 1L, 9.0)))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }
}
