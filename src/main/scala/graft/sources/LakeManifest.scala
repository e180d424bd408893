package graft.sources

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.core.{JsonGenerator, JsonParser}
import com.fasterxml.jackson.databind.{DeserializationContext,
  DeserializationFeature, JsonDeserializer, JsonSerializer,
  SerializationFeature, SerializerProvider}
import com.fasterxml.jackson.databind.annotation.{JsonDeserialize,
  JsonSerialize}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.types.StructType

import LakeTable.Staged

/** The lake's one JSON codec: manifest log records ([[Staged]] full
  * snapshots and [[LakeManifest.Delta]] records) and the catalog's
  * pending-table record all go through [[mapper]], so every string —
  * file paths, column names, sink ids — is escaped on write and parsed
  * back exactly, whatever characters it holds.
  *
  * Wire format (r15's field names and encodings): a full snapshot is
  * `{"version","base","op","batches","schema","stats","dv","renames",
  * "dropped","rowcounts","hidden","bytecounts","files"}`; a delta is
  * `{"version","base","op","delta":1,"schema","renames","dropped",
  * "d_addf",…,"d_delbatches"}`. Per-member count maps travel as
  * `"<member>|<n>"` string arrays, schema entries as `"name TYPE"`
  * strings ([[LakeManifest.Column]]), empty fields are omitted, and a
  * missing field decodes to the case-class default — which is how
  * manifests written before `rowcounts` (r14) or `bytecounts` (r15)
  * existed read through the same path. */
private[graft] object LakeManifest {

  val mapper: JsonMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .serializationInclusion(JsonInclude.Include.NON_EMPTY)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    // delta records written before this codec end with an `"end":1`
    // sentinel; no field is read that the case classes do not declare
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
    .build()

  /** `Map(member -> n)` on the wire: `["<member>|<n>", …]`, sorted. The
    * count is split off at the LAST `|`, so a member name may hold `|`. */
  final class CountsSer extends JsonSerializer[Map[String, Long]] {
    override def serialize(m: Map[String, Long], g: JsonGenerator,
                           p: SerializerProvider): Unit = {
      g.writeStartArray()
      m.toSeq.sorted.foreach { case (f, n) => g.writeString(s"$f|$n") }
      g.writeEndArray()
    }
    override def isEmpty(p: SerializerProvider,
                         m: Map[String, Long]): Boolean = m.isEmpty
  }

  final class CountsDe extends JsonDeserializer[Map[String, Long]] {
    override def deserialize(p: JsonParser,
                             c: DeserializationContext): Map[String, Long] =
      p.readValueAs(classOf[Array[String]]).iterator.map { e =>
        val i = e.lastIndexOf('|')
        e.substring(0, i) -> e.substring(i + 1).toLong
      }.toMap
  }

  /** A name back-quoted for Spark's SQL parser, backticks doubled. */
  private[sources] def quoted(name: String): String =
    s"`${name.replace("`", "``")}`"

  /** One recorded column: its PHYSICAL name and its Spark SQL type as
    * written (`DataType.sql`). On the wire it is a `"name TYPE"` string;
    * a name holding a space is back-quoted with its backticks doubled
    * (`` "`a b` BIGINT" ``), so every other name is written exactly as
    * before. */
  @JsonSerialize(using = classOf[ColumnSer])
  @JsonDeserialize(using = classOf[ColumnDe])
  final case class Column(name: String, sqlType: String) {
    def entry: String =
      s"${if (name.contains(' ')) quoted(name) else name} $sqlType"
  }

  object Column {
    private val Quoted = "(?s)`((?:[^`]|``)*)` (.*)".r

    /** One recorded entry, split at its first space. Only an entry that
      * starts with a backtick and whose remainder no reader ever accepted
      * as a column type reads as the quoted form — so every entry a
      * reader could open before quoting existed decodes as it did. */
    def parse(e: String): Column = {
      val i = e.indexOf(' ')
      val plain = if (i < 0) Column(e, "") else Column(e.take(i), e.drop(i + 1))
      e match {
        case Quoted(n, t) if scala.util.Try(
            StructType.fromDDL(s"`c` ${plain.sqlType}")).isFailure =>
          Column(n.replace("``", "`"), t)
        case _ => plain
      }
    }
  }

  final class ColumnSer extends JsonSerializer[Column] {
    override def serialize(c: Column, g: JsonGenerator,
                           p: SerializerProvider): Unit = {
      val e = c.entry
      // a name the entry cannot spell unambiguously refuses the write
      if (e.startsWith("`") && Column.parse(e) != c)
        throw new IllegalArgumentException(
          s"column name ${quoted(c.name)} cannot be recorded")
      g.writeString(e)
    }
  }

  final class ColumnDe extends JsonDeserializer[Column] {
    override def deserialize(p: JsonParser,
                             c: DeserializationContext): Column =
      Column.parse(p.getValueAsString)
  }

  /** One commit's change against its base version's resolved snapshot:
    * add/remove lists for the ordered members, set/delete entries for
    * the maps, and the small metadata (`schema`, `renames`, `dropped`)
    * in full. */
  final case class Delta(
      version: Long, base: Long, op: String, delta: Int = 1,
      schema: Seq[Column] = Nil,
      renames: Map[String, String] = Map.empty,
      dropped: Seq[String] = Nil,
      d_addf: Seq[String] = Nil, d_rmf: Seq[String] = Nil,
      d_adddv: Seq[String] = Nil, d_rmdv: Seq[String] = Nil,
      d_addstats: Seq[String] = Nil, d_rmstats: Seq[String] = Nil,
      @JsonSerialize(using = classOf[CountsSer])
      @JsonDeserialize(using = classOf[CountsDe])
      d_setrows: Map[String, Long] = Map.empty,
      d_delrows: Seq[String] = Nil,
      @JsonSerialize(using = classOf[CountsSer])
      @JsonDeserialize(using = classOf[CountsDe])
      d_sethidden: Map[String, Long] = Map.empty,
      d_delhidden: Seq[String] = Nil,
      @JsonSerialize(using = classOf[CountsSer])
      @JsonDeserialize(using = classOf[CountsDe])
      d_setbytes: Map[String, Long] = Map.empty,
      d_delbytes: Seq[String] = Nil,
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      d_setbatches: Map[String, Long] = Map.empty,
      d_delbatches: Seq[String] = Nil)

  /** The exact state a full snapshot of `st` as version `v` decodes to:
    * zero hidden counts are not recorded and tombstones are sorted. */
  def canonical(st: Staged, v: Long): Staged =
    st.copy(version = v, hidden = st.hidden.filter(_._2 > 0L),
            dropped = st.dropped.sorted)

  def encode(st: Staged): Array[Byte] = mapper.writeValueAsBytes(st)

  def encode(d: Delta): Array[Byte] = mapper.writeValueAsBytes(d)

  /** Decode one log record of table `dir`: Left = delta, Right = full. */
  def decode(dir: String, bytes: Array[Byte]): Either[Delta, Staged] = {
    val node = mapper.readTree(bytes)
    if (node.path("delta").asInt(0) == 1)
      Left(mapper.treeToValue(node, classOf[Delta]))
    else Right(mapper.treeToValue(node, classOf[Staged]).copy(dir = dir))
  }

  /** Fold `d` over its base's resolved snapshot. */
  def fold(base: Staged, d: Delta): Staged =
    base.copy(version = d.version, baseVersion = d.base, op = d.op,
      files = base.files.filterNot(d.d_rmf.toSet) ++ d.d_addf,
      batches = base.batches -- d.d_delbatches ++ d.d_setbatches,
      schema = d.schema,
      stats = base.stats.filterNot(d.d_rmstats.toSet) ++ d.d_addstats,
      dv = base.dv.filterNot(d.d_rmdv.toSet) ++ d.d_adddv,
      renames = d.renames, dropped = d.dropped,
      rows = base.rows -- d.d_delrows ++ d.d_setrows,
      hidden = base.hidden -- d.d_delhidden ++ d.d_sethidden,
      bytes = base.bytes -- d.d_delbytes ++ d.d_setbytes)

  /** `staged` (canonical) as a delta against `base` — None when folding
    * the delta would not reproduce the staged member ORDER exactly
    * (restores and other order-shuffling commits write full snapshots),
    * or when the delta would not be smaller than the full snapshot
    * (overwrites: the removal list IS the old file list). */
  def diff(base: Staged, staged: Staged): Option[Delta] = {
    def arrDiff(bs: Seq[String], ss: Seq[String])
        : Option[(Seq[String], Seq[String])] = {
      val (sSet, bSet) = (ss.toSet, bs.toSet)
      val add = ss.filterNot(bSet)
      if (bs.filter(sSet) ++ add == ss) Some((add, bs.filterNot(sSet)))
      else None
    }
    def mapDiff(b: Map[String, Long], s: Map[String, Long]) =
      (s.filter { case (k, n) => !b.get(k).contains(n) },
       b.keysIterator.filterNot(s.contains).toSeq)
    for {
      (addf, rmf) <- arrDiff(base.files, staged.files)
      (adddv, rmdv) <- arrDiff(base.dv, staged.dv)
      (addstats, rmstats) <- arrDiff(base.stats, staged.stats)
      (setRows, delRows) = mapDiff(base.rows, staged.rows)
      (setHid, delHid) = mapDiff(base.hidden, staged.hidden)
      (setBytes, delBytes) = mapDiff(base.bytes, staged.bytes)
      (setBatches, delBatches) = mapDiff(base.batches, staged.batches)
      d = Delta(staged.version, staged.baseVersion, staged.op,
        schema = staged.schema, renames = staged.renames,
        dropped = staged.dropped,
        d_addf = addf, d_rmf = rmf, d_adddv = adddv, d_rmdv = rmdv,
        d_addstats = addstats, d_rmstats = rmstats,
        d_setrows = setRows, d_delrows = delRows,
        d_sethidden = setHid, d_delhidden = delHid,
        d_setbytes = setBytes, d_delbytes = delBytes,
        d_setbatches = setBatches, d_delbatches = delBatches)
      deltaN = Seq(addf, rmf, adddv, rmdv, addstats, rmstats, delRows,
                   delHid, delBytes, delBatches).map(_.size).sum +
        Seq(setRows, setHid, setBytes, setBatches).map(_.size).sum
      fullN = Seq(staged.files, staged.dv, staged.stats).map(_.size).sum +
        Seq(staged.rows, staged.hidden, staged.bytes, staged.batches)
          .map(_.size).sum
      if deltaN < fullN
    } yield d
  }
}
