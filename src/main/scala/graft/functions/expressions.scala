package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the analysis chain (SURVEY.md §2.11).
  * Each has real `doGenCode` (static call into [[GraftRuntime]]) so the
  * whole analysis chain stays inside whole-stage codegen — no UDF
  * serialization overhead on the 10^12-row hot path. */

/** `extract_text(html BINARY) → STRING` — SURVEY.md A11. */
case class ExtractTextExpr(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  // ImplicitCast: a STRING html column is auto-encoded to UTF-8 bytes —
  // exactly the decode this expression starts with.
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "extract_text"
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.extractText(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftRuntime.extractText($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `qube_tokenize(text STRING) → ARRAY<STRING>` — SURVEY.md A1+A2
  * (Unicode-whitespace split + codepoint UPPERCASE fold). */
case class QubeTokenizeExpr(child: Expression,
    mode: String = graft.analysis.Tokenizer.Text) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "qube_tokenize"
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.tokenize(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], mode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"""graft.functions.GraftRuntime.tokenize($c, "$mode")""")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `normalize_sort_key(s STRING) → STRING` — SURVEY.md A4 (trim +
  * fullwidth fold + codepoint uppercase; the reference's SymbolMap sort
  * normalization, Indexer.java:541-548). */
case class NormalizeSortKeyExpr(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "normalize_sort_key"
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.normalizeSortKey(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftRuntime.normalizeSortKey($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `qube_tf(text STRING) → ARRAY<STRUCT<term STRING, tf INT, dl INT>>` —
  * the fused index-build inner loop: tokenize (A1/A2) + synonym expand
  * (Y3) + per-document tf count + field length in one native pass. The
  * synonym dictionary is a plan-embedded reference object (tiny; the
  * reference ships its FST to every searcher the same way). */
case class QubeTfExpr(child: Expression, dict: graft.analysis.SynonymDict,
    mode: String = graft.analysis.Tokenizer.Text)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", IntegerType, nullable = false),
      StructField("dl", IntegerType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "qube_tf"
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.tfPairs(dict,
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], mode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dictRef = ctx.addReferenceObj("synDict", dict,
      classOf[graft.analysis.SynonymDict].getName)
    defineCodeGen(ctx, ev,
      c => s"""graft.functions.GraftRuntime.tfPairs($dictRef, $c, "$mode")""")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `qube_tf_pos(text) → ARRAY<STRUCT<term, tf, dl, positions ARRAY<INT>>>`
  * — [[QubeTfExpr]] plus the term's 0-based positions in the expanded
  * token stream (phrase-query substrate; reference
  * DOCS_AND_FREQS_AND_POSITIONS, Indexer.java:713-714). Kept separate so
  * position-free builds pay zero extra bytes or work. */
case class QubeTfPosExpr(child: Expression, dict: graft.analysis.SynonymDict,
    mode: String = graft.analysis.Tokenizer.Text)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", IntegerType, nullable = false),
      StructField("dl", IntegerType, nullable = false),
      StructField("positions", ArrayType(IntegerType, containsNull = false),
        nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "qube_tf_pos"
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.tfPairsPos(dict,
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], mode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dictRef = ctx.addReferenceObj("synDict", dict,
      classOf[graft.analysis.SynonymDict].getName)
    defineCodeGen(ctx, ev,
      c => s"""graft.functions.GraftRuntime.tfPairsPos($dictRef, $c, "$mode")""")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `qube_dl(text STRING) → INT` — the post-expansion token count alone
  * (the docstore pass's `dl`), skipping [[QubeTfExpr]]'s per-term tf map
  * when only the length is needed. Identity with `qube_tf(...)(1).dl` is
  * spec-pinned. */
case class QubeDlExpr(child: Expression, dict: graft.analysis.SynonymDict,
    mode: String = graft.analysis.Tokenizer.Text)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "qube_dl"
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.docLen(dict,
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], mode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dictRef = ctx.addReferenceObj("synDict", dict,
      classOf[graft.analysis.SynonymDict].getName)
    defineCodeGen(ctx, ev,
      c => s"""graft.functions.GraftRuntime.docLen($dictRef, $c, "$mode")""")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vb_decode_pos(blob)` — [[VbDecodeExpr]] plus per-posting positions
  * (the phrase path's decode, columnar so it stays in codegen). */
case class VbDecodePosExpr(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("tf", IntegerType, nullable = false),
      StructField("dl", IntegerType, nullable = false),
      StructField("positions", ArrayType(IntegerType, containsNull = false),
        nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vb_decode_pos"
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.vbDecodePos(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftRuntime.vbDecodePos($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vec_cosine(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) → DOUBLE` — one-pass
  * cosine similarity (float arrays implicit-cast in). The vector ops'
  * hot pair-verify primitive: codegen'd native loop instead of an
  * interpreted aggregate/zip_with tree. */
case class VecCosineExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftRuntime.vecCosine(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.GraftRuntime.vecCosine($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `qube_shingles(text STRING, n) → ARRAY<STRING>` — distinct token
  * n-gram shingles in one native pass (tokenize + join + per-doc dedup);
  * replaces a transform/slice/concat_ws HOF tree plus a global distinct
  * shuffle in the shingle pipelines. */
case class QubeShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "qube_shingles"
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.shingles(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftRuntime.shingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `qube_phrase_match(text) → BOOLEAN` — ordered within-slop phrase
  * containment as one native pass (the nested-exists HOF cascade was
  * interpreted per token). Terms ride as a plan-embedded reference
  * object. */
case class QubePhraseMatchExpr(child: Expression, terms: Seq[String],
    slop: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "qube_phrase_match"
  @transient private lazy val termArr =
    terms.iterator.map(org.apache.spark.unsafe.types.UTF8String.fromString)
      .toArray
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.phraseMatch(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      termArr, slop)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("phraseTerms", termArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftRuntime.phraseMatch($c, $ref, $slop)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `qube_set_hits(text) → ARRAY<BIGINT>` — per-set token-occurrence
  * counts in one tokenize pass; replaces token-stream-shuffling
  * stopword-hit aggregations. */
case class QubeSetHitsExpr(child: Expression, sets: Seq[Seq[String]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "qube_set_hits"
  @transient private lazy val hashSets
      : Array[java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]] =
    sets.map { s =>
      val h = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
      s.foreach(t =>
        h.add(org.apache.spark.unsafe.types.UTF8String.fromString(t)))
      h
    }.toArray
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.setHits(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], hashSets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hitSets", hashSets,
      "java.util.HashSet[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftRuntime.setHits($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `lookup_rows(key STRING) → ARRAY<STRUCT<…>>` — the rows a small
  * driver-side table holds under `key` (null when it holds none, so an
  * `explode` drops the input row exactly as an inner join would, and
  * fans it out once per held row). The table is a plan-embedded
  * `HashMap` reference object: one O(1) probe per row, and the generated
  * code is the same whatever the table holds — the per-query term frames
  * of the serving paths (term → (idf, weight, requirement)) ride here
  * instead of a broadcast join over a driver-local relation, which
  * starts a job of its own. */
case class LookupRowsExpr(child: Expression, valueType: StructType,
    table: Map[String, Seq[org.apache.spark.sql.Row]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(valueType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lookup_rows"
  // the table can hold 1,024 expansion terms: plans show its size only
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"${table.size} keys")
  @transient private lazy val hashed: java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String,
      org.apache.spark.sql.catalyst.util.ArrayData] = {
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(valueType)
    val h = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
      org.apache.spark.sql.catalyst.util.ArrayData]()
    table.foreach { case (k, rows) =>
      h.put(org.apache.spark.unsafe.types.UTF8String.fromString(k),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          rows.map(toRow).toArray[Any]))
    }
    h
  }
  override protected def nullSafeEval(input: Any): Any = hashed.get(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lookupRows", hashed, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.get($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `in_bitmap(id BIGINT) → BOOLEAN` — is `id` in a driver-side id
  * bitmap (the [[graft.index.LiveDocs]] dead set)? The bitmap is a
  * plan-embedded reference object, so the generated code is the same
  * whatever set it holds, and no join or broadcast job runs. */
case class InBitmapExpr(child: Expression,
    bitmap: org.roaringbitmap.longlong.Roaring64NavigableMap)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "in_bitmap"
  // the bitmap can hold millions of ids: plans show nothing of it
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  override protected def nullSafeEval(input: Any): Any =
    bitmap.contains(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bitmap", bitmap,
      classOf[org.roaringbitmap.longlong.Roaring64NavigableMap].getName)
    defineCodeGen(ctx, ev, c => s"$ref.contains($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vec_lsh_buckets(v ARRAY<DOUBLE>) → ARRAY<BIGINT>` — one sign-LSH
  * bucket per seed with the seeded hyperplanes as a plan-embedded
  * reference object; same arithmetic as the interpreted
  * `transform(aggregate(zip_with(...)))` tree it replaces. */
case class VecLshBucketsExpr(child: Expression,
    planesBySeed: Array[Array[Array[Double]]]) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_lsh_buckets"
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.lshBucketsPerSeed(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      planesBySeed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planesBySeed", planesBySeed, "double[][][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftRuntime.lshBucketsPerSeed($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vec_nearest_centroid(v ARRAY<DOUBLE>) → INT` — IVF coarse-quantizer
  * assignment with the centroid matrix as a plan-embedded reference
  * object; same arithmetic as the HOF argmin it replaces (strict `<`,
  * index-ordered Σ(x−y)²), ~2 orders of magnitude less per-row overhead. */
case class VecNearestCentroidExpr(child: Expression,
    cents: Array[Array[Double]]) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_nearest_centroid"
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.vecNearestCentroid(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", cents, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftRuntime.vecNearestCentroid($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vb_decode(blob BINARY) → ARRAY<STRUCT<doc_id BIGINT, tf INT, dl INT>>`
  * — posting-blob decode for the query path (SURVEY.md §2.11 UDTF row).
  * `dl` rides in the posting (norms-colocation) so scoring never joins
  * the docstore. */
case class VbDecodeExpr(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("tf", IntegerType, nullable = false),
      StructField("dl", IntegerType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vb_decode"
  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.vbDecode(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftRuntime.vbDecode($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API + SQL-registry surface for the custom expressions. */
object graftFunctions {
  private def col(e: Expression): Column =
    org.apache.spark.sql.graft.Bridge.column(e)
  private def expr(c: Column): Expression =
    org.apache.spark.sql.graft.Bridge.expression(c)

  def extract_text(c: Column): Column = col(ExtractTextExpr(expr(c)))
  def qube_tokenize(c: Column): Column = col(QubeTokenizeExpr(expr(c)))
  def qube_tokenize(c: Column, mode: String): Column =
    col(QubeTokenizeExpr(expr(c), mode))
  def qube_tf(c: Column, dict: graft.analysis.SynonymDict,
              mode: String = graft.analysis.Tokenizer.Text): Column =
    col(QubeTfExpr(expr(c), dict, mode))
  def qube_tf_pos(c: Column, dict: graft.analysis.SynonymDict,
                  mode: String = graft.analysis.Tokenizer.Text): Column =
    col(QubeTfPosExpr(expr(c), dict, mode))
  def qube_dl(c: Column, dict: graft.analysis.SynonymDict,
              mode: String = graft.analysis.Tokenizer.Text): Column =
    col(QubeDlExpr(expr(c), dict, mode))
  def normalize_sort_key(c: Column): Column = col(NormalizeSortKeyExpr(expr(c)))
  def vb_decode(c: Column): Column = col(VbDecodeExpr(expr(c)))
  def vb_decode_pos(c: Column): Column = col(VbDecodePosExpr(expr(c)))
  def vec_cosine(a: Column, b: Column): Column =
    col(VecCosineExpr(expr(a), expr(b)))
  def vec_nearest_centroid(v: Column, cents: Array[Array[Double]]): Column =
    col(VecNearestCentroidExpr(expr(v), cents))
  def qube_shingles(c: Column, n: Int): Column =
    col(QubeShinglesExpr(expr(c), n))
  def vec_lsh_buckets(v: Column, planesBySeed: Array[Array[Array[Double]]]): Column =
    col(VecLshBucketsExpr(expr(v), planesBySeed))
  def qube_phrase_match(c: Column, terms: Seq[String], slop: Int): Column =
    col(QubePhraseMatchExpr(expr(c), terms, slop))
  def qube_set_hits(c: Column, sets: Seq[Seq[String]]): Column =
    col(QubeSetHitsExpr(expr(c), sets))
  def lookup_rows(key: Column, valueType: StructType,
                  table: Map[String, Seq[org.apache.spark.sql.Row]]): Column =
    col(LookupRowsExpr(expr(key), valueType, table))
  def in_bitmap(id: Column,
                bitmap: org.roaringbitmap.longlong.Roaring64NavigableMap): Column =
    col(InBitmapExpr(expr(id), bitmap))

  /** Register for `spark.sql` use. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("extract_text", es => ExtractTextExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("qube_tokenize", es => QubeTokenizeExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("normalize_sort_key", es => NormalizeSortKeyExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("vb_decode", es => VbDecodeExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("vb_decode_pos", es => VbDecodePosExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("vec_cosine",
      es => VecCosineExpr(es.head, es(1)), "scala_udf")
  }
}
