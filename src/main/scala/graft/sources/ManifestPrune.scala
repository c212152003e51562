package graft.sources

import graft.operators.TxnTable
import graft.operators.TxnTable.Entry
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, Decimal, DecimalType, IntegerType, LongType, ShortType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-level FILE SKIPPING: evaluate filter conjuncts against each
  * live entry's per-file stats (integral and widened-decimal [lo,hi] +
  * nulls, truncated string bounds, days()/bucketN() transform boxes,
  * bloom sidecars) and keep only the entries that MAY hold a matching
  * row. [[keep]] is the one keep rule: the DSv2 scan builder calls it
  * with the pushed filters, and [[org.apache.spark.sql.graftbridge.
  * ManifestPruneRule]] calls it with the data filters over every
  * manifest-backed file scan (library snapshots, merge-on-read SQL
  * reads, MV-served reads). Planning happens from driver-side manifest
  * metadata, before any storage I/O.
  *
  * Sound by construction: a conjunct whose shape the stats cannot answer
  * (unsupported operator, non-indexed column, narrowing cast, literal of
  * another type) keeps every file — pruning only ever REMOVES files the
  * stats PROVE empty for the predicate, and the residual per-row filter
  * still runs inside the surviving files. String comparisons are UTF-8
  * binary (Spark's own string order) against the Iceberg-style
  * truncation-conservative bounds. */
object ManifestPrune {

  /** Entries that may satisfy EVERY conjunct (logical AND). Range and
    * transform stats answer first; then each committed bloom on a
    * column some `col = <integral literal>` conjunct names is asked
    * through `probe` (the sidecar's verdict over file names), which is
    * only called while entries remain — a table without blooms runs no
    * Spark job here. In an `indexed` table (one with index columns) an
    * entry with no stat group is a zero-row sentinel — the engine-wide
    * convention every stats consumer reads — and no row of it satisfies
    * any conjunct. */
  def keep(entries: Seq[Entry], conjuncts: Seq[Expression],
      blooms: Seq[TxnTable.BloomRef],
      probe: (TxnTable.BloomRef, Long) => String => Boolean,
      indexed: Boolean): Seq[Entry] = {
    val flat = conjuncts.flatMap(split)
    val sentinel = (e: Entry) => indexed && flat.nonEmpty &&
      e.stats.isEmpty && e.strStats.isEmpty
    val tests = flat.map(mayHold)
    val statKept = entries.filter(e =>
      !sentinel(e) && tests.forall(_(e)))
    eqLongConjuncts(flat).distinct.foldLeft(statKept) { case (es, (c, v)) =>
      if (es.isEmpty) es
      else blooms.find(_.col == c).fold(es) { b =>
        val may = probe(b, v)
        es.filter(e => may(e.path.split('/').last))
      }
    }
  }

  /** The dual of [[keep]]: does EVERY row of an entry satisfy every
    * conjunct? Each conjunct must be proven true for the whole file from
    * its stats, with a KNOWN zero null count on the column (a NULL makes
    * a comparison NULL, which no delete acts on): an integral or decimal
    * range or equality against the [lo, hi] box, a string one against
    * the truncated bounds (lo ≤ every value, hi ≥ every value, so the
    * proofs stay sound under truncation), an `IN` whose member is the
    * single value of a [v, v] file, `IS NOT NULL`, and `true`. Any other
    * shape, and any missing stat, answers false. Member sets are
    * prepared once per call. */
  def covers(conjuncts: Seq[Expression]): Entry => Boolean = {
    val tests = conjuncts.flatMap(split).map(cover)
    e => tests.forall(_(e))
  }

  private def split(e: Expression): Seq[Expression] = e match {
    case And(l, r) => split(l) ++ split(r)
    case other => Seq(other)
  }

  /** Equality conjuncts of the shape `col = <integral literal>` (either
    * side, through widening casts; `<=>` against a non-null literal is
    * the same test) — what a bloom sidecar can answer beyond range
    * stats. Only ever used to REMOVE files the bloom proves empty for
    * the literal; anything else is not this shape and prunes nothing. */
  private def eqLongConjuncts(conjuncts: Seq[Expression])
      : Seq[(String, Long)] =
    conjuncts.flatMap {
      case EqualTo(l, r) => eqPair(l, r)
      case EqualNullSafe(l, r) => eqPair(l, r)
      case _ => None
    }

  private def eqPair(l: Expression, r: Expression): Option[(String, Long)] =
    (attrOf(l), longLit(r)) match {
      case (Some(c), Some(v)) => Some((c, v))
      case _ => (attrOf(r), longLit(l)) match {
        case (Some(c), Some(v)) => Some((c, v))
        case _ => None
      }
    }

  /** Unwrap the column side: a bare attribute, or a WIDENING numeric
    * cast of one (an INT column compared to a BIGINT literal arrives as
    * `CAST(c AS BIGINT)`, a DECIMAL(10,2) key compared to DECIMAL(12,2)
    * literals as a decimal cast). A widening cast preserves every value
    * and its order, so the column's stats answer for the cast. A
    * NARROWING cast does not: `CAST(bigintCol AS INT) = 5` can match
    * rows whose untruncated value lies far outside [5, 5] (non-ANSI
    * wrap-around), so evaluating it against the untruncated bounds
    * would prune files that hold matching rows. Narrowing casts, and
    * casts to or from any non-numeric type, answer `None` and keep
    * every file. */
  private def attrOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case Cast(a: AttributeReference, t, _, _) if widens(a.dataType, t) =>
      Some(a.name)
    case _ => None
  }

  private def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (f, t) if intWidth(f) > 0 && intWidth(t) > 0 =>
        intWidth(t) >= intWidth(f)
      case (fd: DecimalType, d: DecimalType) =>
        d.precision - d.scale >= fd.precision - fd.scale && d.scale >= fd.scale
      case (f, d: DecimalType) => intWidth(f) > 0 &&
        d.precision - d.scale >= intDigits(intWidth(f))
      case _ => false
    }

  /** Decimal digits the integral type of `width` bytes can need. */
  private def intDigits(width: Int): Int = width match {
    case 1 => 3
    case 2 => 5
    case 4 => 10
    case _ => 19
  }

  private def intWidth(t: DataType): Int =
    t match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 4
      case LongType => 8
      case _ => 0
    }

  private def intLike(t: DataType): Boolean = intWidth(t) > 0

  private def longLit(e: Expression): Option[Long] = e match {
    case Literal(v, t) if intLike(t) && v != null =>
      Some(v.asInstanceOf[Number].longValue)
    case _ => None
  }

  /** A numeric literal as the closed long interval the manifest's boxes
    * compare with: an integral literal is a point; a DECIMAL one spans
    * [floor, ceil], the same widening decimal index columns get when
    * their stats are written. None for other types and for a decimal
    * beyond the long range. */
  private def longBox(e: Expression): Option[(Long, Long)] = e match {
    case Literal(d: Decimal, _: DecimalType) => decBox(d)
    case _ => longLit(e).map(v => (v, v))
  }

  private def decBox(d: Decimal): Option[(Long, Long)] = {
    val b = d.toJavaBigDecimal
    try Some((b.setScale(0, java.math.RoundingMode.FLOOR).longValueExact,
      b.setScale(0, java.math.RoundingMode.CEILING).longValueExact))
    catch { case _: ArithmeticException => None }
  }

  private def strLit(e: Expression): Option[String] = e match {
    case Literal(v: UTF8String, StringType) if v != null => Some(v.toString)
    case _ => None
  }

  private def cmp = TxnTable.u8cmp _

  /** May an entry hold a row satisfying `p`? Conservative: unknown
    * shapes and missing stats answer true. An IN list's members are
    * prepared here, once per call ([[members]]). */
  private def mayHold(p: Expression): Entry => Boolean = p match {
    case In(a, vs) => literals(vs).fold(always)(inMay(a, _))
    case InSet(a, vs) => inMay(a, vs.toSeq)
    case _ => e => mayHoldOne(e, p)
  }

  private val always: Entry => Boolean = _ => true
  private val never: Entry => Boolean = _ => false

  private def literals(vs: Seq[Expression]): Option[Seq[Any]] =
    if (vs.forall(_.isInstanceOf[Literal]))
      Some(vs.map(_.asInstanceOf[Literal].value))
    else None

  private def mayHoldOne(e: Entry, p: Expression): Boolean = p match {
    case EqualTo(l, r) => binInt(e, l, r, "=") && binStr(e, l, r, "=") &&
      binDay(e, l, r, "=") && binBucket(e, l, r)
    case EqualNullSafe(l, r) if longBox(l).isDefined || longBox(r).isDefined ||
        strLit(l).isDefined || strLit(r).isDefined =>
      // <=> a non-null literal matches exactly what = matches
      binInt(e, l, r, "=") && binStr(e, l, r, "=")
    case LessThan(l, r) => binInt(e, l, r, "<") && binStr(e, l, r, "<") &&
      binDay(e, l, r, "<")
    case LessThanOrEqual(l, r) => binInt(e, l, r, "<=") &&
      binStr(e, l, r, "<=") && binDay(e, l, r, "<=")
    case GreaterThan(l, r) => binInt(e, l, r, ">") && binStr(e, l, r, ">") &&
      binDay(e, l, r, ">")
    case GreaterThanOrEqual(l, r) =>
      binInt(e, l, r, ">=") && binStr(e, l, r, ">=") &&
        binDay(e, l, r, ">=")
    case IsNull(a) => attrOf(a).forall { c =>
      // prune files the stats PROVE null-free; unknown counts (−1) keep
      e.nullsFor(c).orElse(e.strStats.collectFirst {
        case TxnTable.StrStat(`c`, _, _, n) => n
      }).forall(_ != 0L)
    }
    case IsNotNull(a) => attrOf(a).forall { c =>
      // an EMPTY recorded integral range (lo > hi) means the file is
      // all-null in c — IS NOT NULL can skip it. (String stats cannot
      // answer this: an all-"" file records the same ("","") bounds.)
      e.statFor(c).forall { case (lo, hi) => lo <= hi }
    }
    case StartsWith(a, pre) => (attrOf(a), strLit(pre)) match {
      case (Some(c), Some(prefix)) => strMay(e, c) { case (fLo, fHi) =>
        // keep if [fLo,fHi] intersects [prefix, prefix·∞): the upper
        // bound must reach the prefix, and the lower bound must not
        // already be past every prefixed string
        cmp(fHi, prefix) >= 0 &&
          (cmp(fLo, prefix) <= 0 || fLo.startsWith(prefix))
      }
      case _ => true
    }
    case _ => true
  }

  /** An IN list's non-NULL members (a NULL member never makes `IN`
    * true), sorted once: integral and decimal members as the closed long
    * boxes of [[longBox]] (a point for an integral member), ordered by
    * (lo, hi) — every box is at most one wide, so the upper ends are
    * ordered too — and string members in UTF-8 binary order. None when
    * the value's type has no stats, or a decimal member lies beyond the
    * long range. */
  private def members(dt: DataType, vs: Seq[Any])
      : Option[Either[IndexedSeq[(Long, Long)], IndexedSeq[String]]] = {
    val xs = vs.filter(_ != null)
    def sorted(boxes: Seq[Option[(Long, Long)]]) =
      if (boxes.forall(_.isDefined))
        Some(scala.util.Left(boxes.flatten.sorted.toIndexedSeq))
      else None
    dt match {
      case t if intLike(t) => sorted(xs.map { v =>
        val n = v.asInstanceOf[Number].longValue
        Some((n, n))
      })
      case _: DecimalType =>
        sorted(xs.map(v => decBox(v.asInstanceOf[Decimal])))
      case StringType => Some(scala.util.Right(xs.map(_.toString)
        .sorted(Ordering.fromLessThan[String](cmp(_, _) < 0)).toIndexedSeq))
      case _ => None
    }
  }

  /** The first index in [0, n) where `below` turns false (n when it
    * never does); `below` must hold on a prefix only. */
  private def lowerBound(n: Int)(below: Int => Boolean): Int = {
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (below(mid)) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** May a file hold some member of the set? One binary search per
    * file: the first member not below the file's lower bound decides
    * (sorted-window probe), so an id list of n members costs
    * O(#files · log n) however long it is. bucketN(c) transform stats
    * answer IN like they answer equality: the file may hold the set only
    * if SOME member's bucket lands in its bucket box — what makes
    * id-list deletes and runtime join pruning (DPP IN-sets) bite on
    * hash-bucketed layouts where raw ranges prune nothing. The bucket
    * images are computed once per bucket count, at most n values each. */
  private def inMay(a: Expression, vs: Seq[Any]): Entry => Boolean =
    (attrOf(a), members(a.dataType, vs)) match {
      case (Some(c), Some(scala.util.Left(boxes))) =>
        val images = scala.collection.mutable.Map.empty[String, Set[Long]]
        def image(n: String) = images.getOrElseUpdate(n,
          boxes.map(b => TxnTable.bucketOf(b._1, n.toInt)).toSet)
        e => intMay(e, c) { case (lo, hi) =>
          val i = lowerBound(boxes.size)(boxes(_)._2 < lo)
          i < boxes.size && boxes(i)._1 <= hi
        } && (!intLike(a.dataType) || e.stats.forall { st =>
          st.col match {
            case TxnTable.BucketSpec(n, `c`) =>
              st.lo <= st.hi && image(n).exists(b => b >= st.lo && b <= st.hi)
            case _ => true
          }
        })
      case (Some(c), Some(scala.util.Right(strs))) =>
        e => strMay(e, c) { case (fLo, fHi) =>
          val i = lowerBound(strs.size)(j => cmp(strs(j), fLo) < 0)
          i < strs.size && cmp(strs(i), fHi) <= 0
        }
      case _ => always
    }

  // ---- covers: every row of the file satisfies the conjunct ---------------

  private def cover(p: Expression): Entry => Boolean = p match {
    case Literal(true, BooleanType) => always
    case IsNotNull(a) => attrOf(a).fold(never)(c => e =>
      intStat(e, c).exists(_.nulls == 0L) ||
        strStat(e, c).exists(_.nulls == 0L))
    case EqualTo(l, r) => cmpCover(l, r, "=")
    case LessThan(l, r) => cmpCover(l, r, "<")
    case LessThanOrEqual(l, r) => cmpCover(l, r, "<=")
    case GreaterThan(l, r) => cmpCover(l, r, ">")
    case GreaterThanOrEqual(l, r) => cmpCover(l, r, ">=")
    case In(a, vs) => literals(vs).fold(never)(inCover(a, _))
    case InSet(a, vs) => inCover(a, vs.toSeq)
    case _ => never
  }

  private def intStat(e: Entry, c: String): Option[TxnTable.ColStat] =
    e.stats.find(_.col == c)

  private def strStat(e: Entry, c: String): Option[TxnTable.StrStat] =
    e.strStats.find(_.col == c)

  /** `col op lit` (either side) for every row: the column's null-free
    * box lies wholly inside the literal's side. */
  private def cmpCover(l: Expression, r: Expression, op: String)
      : Entry => Boolean = {
    def side(a: Expression, v: Expression, op: String)
        : Option[Entry => Boolean] = attrOf(a).flatMap(c =>
      longBox(v).map(b => intCover(c, op, b))
        .orElse(strLit(v).map(sv => strCover(c, op, sv))))
    side(l, r, op).orElse(side(r, l, flip(op))).getOrElse(never)
  }

  /** Against a literal in [vLo, vHi] ([[longBox]]) and an integral box
    * [lo, hi] (a decimal column's box holds its values too): `lo > v`
    * iff `lo ≥ vHi` and `lo > vLo`, `hi < v` iff `hi ≤ vLo` and
    * `hi < vHi`; equality needs a point box at an integral literal. */
  private def intCover(c: String, op: String, v: (Long, Long))
      : Entry => Boolean = {
    val (vLo, vHi) = v
    e => intStat(e, c).exists { st =>
      st.nulls == 0L && st.lo <= st.hi && (op match {
        case "=" => st.lo == st.hi && vLo == vHi && st.lo == vLo
        case "<" => st.hi <= vLo && st.hi < vHi
        case "<=" => st.hi <= vLo
        case ">" => st.lo >= vHi && st.lo > vLo
        case ">=" => st.lo >= vHi
        case _ => false
      })
    }
  }

  private def strCover(c: String, op: String, v: String): Entry => Boolean =
    e => strStat(e, c).exists { st =>
      st.nulls == 0L && (op match {
        case "=" => st.lo == v && st.hi == v
        case "<" => cmp(st.hi, v) < 0
        case "<=" => cmp(st.hi, v) <= 0
        case ">" => cmp(st.lo, v) > 0
        case ">=" => cmp(st.lo, v) >= 0
        case _ => false
      })
    }

  /** A null-free single-point file [v, v] whose value is a member: every
    * row IS v (lo == hi pins every string row too, truncation or not). */
  private def inCover(a: Expression, vs: Seq[Any]): Entry => Boolean =
    (attrOf(a), members(a.dataType, vs)) match {
      case (Some(c), Some(scala.util.Left(boxes))) =>
        val points = boxes.collect { case (lo, hi) if lo == hi => lo }.toSet
        e => intStat(e, c).exists(st =>
          st.nulls == 0L && st.lo == st.hi && points(st.lo))
      case (Some(c), Some(scala.util.Right(strs))) =>
        val set = strs.toSet
        e => strStat(e, c).exists(st =>
          st.nulls == 0L && st.lo == st.hi && set(st.lo))
      case _ => never
    }

  /** Evaluate a numeric comparison `col op lit` (either side) against
    * the entry's [lo,hi]; true when no integral stat can answer. */
  private def binInt(e: Entry, l: Expression, r: Expression, op: String)
      : Boolean =
    (attrOf(l), longBox(r), attrOf(r), longBox(l)) match {
      case (Some(c), Some(v), _, _) => intOp(e, c, op, v)
      case (_, _, Some(c), Some(v)) => intOp(e, c, flip(op), v)
      case _ => true
    }

  private def binStr(e: Entry, l: Expression, r: Expression, op: String)
      : Boolean =
    (attrOf(l), strLit(r), attrOf(r), strLit(l)) match {
      case (Some(c), Some(v), _, _) => strOp(e, c, op, v)
      case (_, _, Some(c), Some(v)) => strOp(e, c, flip(op), v)
      case _ => true
    }

  // ---- days(c) PARTITION-TRANSFORM stats (hidden partitioning) -------------

  /** A bare timestamp attribute — the base column of a possible
    * `days(c)` transform index. No cast unwrapping: a cast of a
    * timestamp changes the day mapping. */
  private def tsAttrOf(e: Expression): Option[String] = e match {
    case a: AttributeReference
        if a.dataType == TimestampType || a.dataType == TimestampNTZType =>
      Some(a.name)
    case _ => None
  }

  /** Epoch-day of a timestamp literal (Catalyst carries MICROSECONDS) —
    * the same floorDiv mapping as TxnTable.idxExpr / epochDayMs — plus
    * whether the literal sits EXACTLY on the day boundary (the common
    * time-range-query shape, where `ts < day-start` excludes the whole
    * day). */
  private def dayLit(e: Expression): Option[(Long, Boolean)] = e match {
    case Literal(v: Long, TimestampType) =>
      Some((Math.floorDiv(v, 86400000000L), Math.floorMod(v, 86400000000L) == 0L))
    case Literal(v: Long, TimestampNTZType) =>
      Some((Math.floorDiv(v, 86400000000L), Math.floorMod(v, 86400000000L) == 0L))
    case _ => None
  }

  /** A timestamp comparison answered from the `days(c)` transform stats:
    * the predicate maps to DAY granularity, so the bounds tests are the
    * coarsened (conservative) forms — `ts < v` may hold iff the file's
    * min day ≤ day(v) (strictly < when v sits exactly on the boundary:
    * no row of day(v) precedes the day's first instant); `ts > v` iff
    * its max day ≥ day(v). True when the entry carries no days(c)
    * stat. */
  private def binDay(e: Entry, l: Expression, r: Expression, op: String)
      : Boolean =
    (tsAttrOf(l), dayLit(r), tsAttrOf(r), dayLit(l)) match {
      case (Some(c), Some(d), _, _) => dayOp(e, s"days($c)", op, d)
      case (_, _, Some(c), Some(d)) => dayOp(e, s"days($c)", flip(op), d)
      case _ => true
    }

  private def dayOp(e: Entry, spec: String, op: String,
      d: (Long, Boolean)): Boolean =
    intMay(e, spec) { case (lo, hi) =>
      val (day, atBoundary) = d
      op match {
        case "=" => day >= lo && day <= hi
        case "<" => if (atBoundary) lo < day else lo <= day
        case "<=" => lo <= day
        case ">" | ">=" => hi >= day
        case _ => true
      }
    }

  /** An integral EQUALITY answered from `bucketN(c)` transform stats:
    * the literal maps to its bucket (TxnTable.bucketOf — the same
    * Mersenne-field multiplicative hash the stats were computed with)
    * and the file is prunable when its bucket box excludes it. Only
    * equality — a range predicate says nothing about hash buckets. */
  private def binBucket(e: Entry, l: Expression, r: Expression): Boolean =
    ((attrOf(l), longLit(r)) match {
      case (Some(c), Some(v)) => Some((c, v))
      case _ => (attrOf(r), longLit(l)) match {
        case (Some(c), Some(v)) => Some((c, v))
        case _ => None
      }
    }) match {
      case None => true
      case Some((c, v)) =>
        e.stats.forall { st =>
          st.col match {
            case TxnTable.BucketSpec(n, `c`) =>
              val b = TxnTable.bucketOf(v, n.toInt)
              st.lo <= st.hi && b >= st.lo && b <= st.hi
            case _ => true
          }
        }
    }

  private def flip(op: String): String = op match {
    case "<" => ">" case "<=" => ">="
    case ">" => "<" case ">=" => "<=" case o => o
  }

  private def intMay(e: Entry, c: String)(f: ((Long, Long)) => Boolean)
      : Boolean = e.statFor(c).forall { case (lo, hi) =>
      lo <= hi && f((lo, hi)) // empty range (all-null) matches no value
    }

  private def strMay(e: Entry, c: String)(f: ((String, String)) => Boolean)
      : Boolean = e.strStatFor(c).forall { case (fLo, fHi) => f((fLo, fHi)) }

  /** `col op v` against the box [lo, hi], for a literal known to lie in
    * [vLo, vHi] ([[longBox]]). The box bounds are integers, so each test
    * is exact for a decimal literal too: `lo < v` iff `lo < ceil(v)`,
    * `lo <= v` iff `lo <= floor(v)`, and the mirror images for `hi`. */
  private def intOp(e: Entry, c: String, op: String, v: (Long, Long))
      : Boolean = {
    val (vLo, vHi) = v
    intMay(e, c) { case (lo, hi) =>
      op match {
        case "=" => vHi >= lo && vLo <= hi
        case "<" => lo < vHi
        case "<=" => lo <= vLo
        case ">" => hi > vLo
        case ">=" => hi >= vHi
        case _ => true
      }
    }
  }

  private def strOp(e: Entry, c: String, op: String, v: String): Boolean =
    strMay(e, c) { case (fLo, fHi) =>
      op match {
        case "=" => cmp(v, fLo) >= 0 && cmp(v, fHi) <= 0
        case "<" => cmp(fLo, v) < 0
        case "<=" => cmp(fLo, v) <= 0
        case ">" => cmp(fHi, v) > 0
        case ">=" => cmp(fHi, v) >= 0
        case _ => true
      }
    }

  // ---- RUNTIME (DPP) filter decoding --------------------------------------

  /** Decode one RUNTIME V2 predicate (what [[org.apache.spark.sql.
    * execution.datasources.v2.BatchScanExec]] passes to
    * `SupportsRuntimeV2Filtering.filter` after a dynamic-pruning
    * subquery resolves — an `IN` of the join build side's key values,
    * or a degenerate equality) into the catalyst shape [[keep]] prunes
    * with. Unknown shapes answer None: runtime filtering is an
    * optimization, and the per-row join above the scan re-applies the
    * real condition — dropping an undecodable predicate is always
    * sound. */
  def fromV2(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Expression] = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
    def attr(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[AttributeReference] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        // the data type rides on the literals; the attribute only needs
        // its NAME for stat lookup (attrOf matches the bare reference)
        Some(AttributeReference(r.fieldNames.head,
          org.apache.spark.sql.types.NullType)())
      case _ => None
    }
    def lit(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Literal] = e match {
      case l: V2Literal[_] => Some(Literal(l.value, l.dataType))
      case _ => None
    }
    p.name() match {
      case "IN" =>
        val kids = p.children()
        for {
          a <- attr(kids.head)
          vs <- Some(kids.tail.toSeq.map(lit)) if vs.forall(_.isDefined)
        } yield {
          // any size: the per-file set test is one binary search
          val lits = vs.flatten
          In(a.withDataType(lits.headOption.map(_.dataType)
            .getOrElse(a.dataType)), lits)
        }
      case "=" =>
        val kids = p.children()
        if (kids.length != 2) None
        else (attr(kids(0)), lit(kids(1)), attr(kids(1)), lit(kids(0))) match {
          case (Some(a), Some(l), _, _) =>
            Some(EqualTo(a.withDataType(l.dataType), l))
          case (_, _, Some(a), Some(l)) =>
            Some(EqualTo(l, a.withDataType(l.dataType)))
          case _ => None
        }
      case _ => None
    }
  }
}
