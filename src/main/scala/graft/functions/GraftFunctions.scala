package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.chunk.Chunker
import graft.html.{Doc, DocRender}
import graft.robots.Robots
import graft.url.UrlCanonical

/** Native Catalyst expressions for the operators Spark's built-ins can't
  * express (SURVEY.md §7.3). All are pure/deterministic/null-tolerant;
  * CodegenFallback is deliberate: each call is dominated by string
  * parsing work, so the virtual-call overhead codegen would remove is
  * noise, and eval-mode expressions still sit INSIDE a WholeStageCodegen
  * pipeline of the surrounding operators. */

/** html_to_markdown(html, base_url) — fused P4+P8: parse HTML to the
  * Document IR and render reference-markdown. */
case class HtmlToMarkdown(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullSafeEval(html: Any, base: Any): Any =
    UTF8String.fromString(
      DocRender.toMarkdown(Doc.fromHtml(html.toString, base.toString)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HtmlToMarkdown = copy(l, r)
  override def prettyName: String = "html_to_markdown"
}

/** canonicalize_url(url) — P3 frontier key function; null for invalid. */
case class CanonicalizeUrl(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullSafeEval(url: Any): Any = {
    val n = UrlCanonical.normalize(url.toString)
    if (n == null) null else UTF8String.fromString(n)
  }
  override protected def withNewChildInternal(c: Expression): CanonicalizeUrl = copy(c)
  override def prettyName: String = "canonicalize_url"
}

/** resolve_url(base, href) — WHATWG join with the converter's fallbacks. */
case class ResolveUrl(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullSafeEval(base: Any, href: Any): Any =
    UTF8String.fromString(UrlCanonical.resolve(base.toString, href.toString))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ResolveUrl = copy(l, r)
  override def prettyName: String = "resolve_url"
}

/** extract_outlinks(html, base_url) — P6/G6: sorted+deduped outlinks
  * (javascript:/# filtered, absolute hrefs verbatim). */
case class ExtractOutlinks(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(html: Any, base: Any): Any = {
    val links = Doc.extractLinks(html.toString, base.toString)
    new GenericArrayData(links.map(UTF8String.fromString).toArray[Any])
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ExtractOutlinks = copy(l, r)
  override def prettyName: String = "extract_outlinks"
}

/** robots_allows(path, allow_rules, disallow_rules) — F7 fetch gate. */
case class RobotsAllows(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(path: Any, allow: Any, disallow: Any): Any = {
    def toSeq(a: Any): Seq[String] = {
      val arr = a.asInstanceOf[ArrayData]
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    }
    Robots.allows(path.toString, toSeq(allow), toSeq(disallow))
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): RobotsAllows =
    copy(f, s, t)
  override def prettyName: String = "robots_allows"
}

/** semantic_density(text) — A7 per-chunk scalar (chunker.rs:211-258). */
case class SemanticDensityExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = FloatType
  override def nullSafeEval(text: Any): Any = Chunker.semanticDensity(text.toString)
  override protected def withNewChildInternal(c: Expression): SemanticDensityExpr = copy(c)
  override def prettyName: String = "semantic_density"
}

/** chunk_markdown(markdown, source_url, created_at, chunk_size, overlap)
  * — G1 as a Catalyst Generator for LATERAL VIEW / SQL use. One output
  * row per chunk with the canonical record fields. */
case class ChunkMarkdownGenerator(children: Seq[Expression])
    extends Expression with Generator with CodegenFallback {
  require(children.size == 5, "chunk_markdown(md, url, created_at, size, overlap)")

  override def elementSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("content", StringType, nullable = false),
    StructField("heading", StringType, nullable = true),
    StructField("heading_level", IntegerType, nullable = true),
    StructField("heading_path", StringType, nullable = true),
    StructField("path_elements", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("domain", StringType, nullable = false),
    StructField("word_count", IntegerType, nullable = false),
    StructField("char_count", IntegerType, nullable = false),
    StructField("nested_level", IntegerType, nullable = true),
    StructField("position", IntegerType, nullable = true),
    StructField("is_continuation", BooleanType, nullable = true),
    StructField("chunk_type", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val md = children(0).eval(input)
    val url = children(1).eval(input)
    if (md == null || url == null) return Nil
    val createdAt = Option(children(2).eval(input)).map(_.toString).getOrElse("")
    val size = Option(children(3).eval(input)).map(_.asInstanceOf[Int]).getOrElse(1000)
    val overlap = Option(children(4).eval(input)).map(_.asInstanceOf[Int]).getOrElse(200)
    Chunker.semanticChunks(md.toString, url.toString, createdAt, size, overlap).map { c =>
      InternalRow(
        UTF8String.fromString(c.id),
        UTF8String.fromString(c.content),
        c.heading.map(UTF8String.fromString).orNull,
        c.heading_level.map(Int.box).orNull,
        c.heading_path.map(UTF8String.fromString).orNull,
        new GenericArrayData(c.path_elements.map(UTF8String.fromString).toArray[Any]),
        UTF8String.fromString(c.domain),
        c.word_count,
        c.char_count,
        c.nested_level.map(Int.box).orNull,
        c.position.map(Int.box).orNull,
        c.is_continuation.map(Boolean.box).orNull,
        UTF8String.fromString(c.chunk_type))
    }
  }

  override def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): ChunkMarkdownGenerator =
    copy(newChildren)
  override def nullable: Boolean = false
  override def prettyName: String = "chunk_markdown"
}

object GraftFunctions {

  // Spark 4 decoupled Column from Expression (Connect); the classic
  // bridge is ColumnNode-based and private[sql] — see graftbridge.Bridge.
  private def expr(c: Column): Expression = org.apache.spark.sql.graftbridge.Bridge.expression(c)
  private def col(e: Expression): Column = org.apache.spark.sql.graftbridge.Bridge.column(e)

  // Column helpers
  def html_to_markdown(html: Column, base: Column): Column =
    col(HtmlToMarkdown(expr(html), expr(base)))
  def canonicalize_url(url: Column): Column = col(CanonicalizeUrl(expr(url)))
  def resolve_url(base: Column, href: Column): Column = col(ResolveUrl(expr(base), expr(href)))
  def extract_outlinks(html: Column, base: Column): Column =
    col(ExtractOutlinks(expr(html), expr(base)))
  def robots_allows(path: Column, allow: Column, disallow: Column): Column =
    col(RobotsAllows(expr(path), expr(allow), expr(disallow)))
  def semantic_density(text: Column): Column = col(SemanticDensityExpr(expr(text)))
  def chunk_markdown(md: Column, url: Column, createdAt: Column, size: Column, overlap: Column): Column =
    col(ChunkMarkdownGenerator(Seq(expr(md), expr(url), expr(createdAt), expr(size), expr(overlap))))
  def minhash_sig(text: Column, w: Int, m: Int): Column =
    col(MinhashSig(expr(text), Literal(w), Literal(m)))
  def simhash64(text: Column): Column = col(Simhash64(expr(text)))
  def cosine_sim(a: Column, b: Column): Column = col(CosineSim(expr(a), expr(b)))
  def hyperplane_bucket(vec: Column, planes: Int, seed: Long): Column =
    col(HyperplaneBucket(expr(vec), Literal(planes), Literal(seed)))
  def jaccard_shingles(a: Column, b: Column, w: Int): Column =
    col(JaccardShingles(expr(a), expr(b), Literal(w)))
  def hash_embedding(text: Column, dim: Int): Column =
    col(HashEmbedding(expr(text), Literal(dim)))

  /** Register all functions for SQL use. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("html_to_markdown", es => HtmlToMarkdown(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("canonicalize_url", es => CanonicalizeUrl(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("resolve_url", es => ResolveUrl(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("extract_outlinks", es => ExtractOutlinks(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("robots_allows", es => RobotsAllows(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("semantic_density", es => SemanticDensityExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("chunk_markdown", es => ChunkMarkdownGenerator(es), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_sig", es => MinhashSig(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("simhash64", es => Simhash64(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_sim", es => CosineSim(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("hyperplane_bucket", es => HyperplaneBucket(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("jaccard_shingles", es => JaccardShingles(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("hash_embedding", es => HashEmbedding(es(0), es(1)), "scala_udf")
  }
}
