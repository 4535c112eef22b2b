package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels invoked from both the interpreted (`eval`) and generated
  * (`doGenCode`) paths of the expressions in [[GraftExpressions]]. They take
  * and return Spark internal types so generated Java can call them directly
  * via the static forwarders Scala emits for top-level objects.
  */
object Kernels {

  // ---- token codec -------------------------------------------------------

  /** tokens(array<int32> of Unicode codepoints) -> string (deterministic,
    * invertible; the engine's payload decode -- SURVEY.md §1.4). */
  def tokensToString(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    val cps = arr.toIntArray()
    UTF8String.fromString(new String(cps, 0, n))
  }

  def stringToTokens(s: UTF8String): ArrayData = {
    val str = s.toString
    val cps = str.codePoints().toArray
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(cps)
  }

  /** "MM/DD/YYYY - HH:MM:SS" -> epoch seconds (UTC, timezone-independent);
    * null on malformed/invalid calendar dates. The store-read path re-derives
    * `ts` with this so results never depend on spark.sql.session.timeZone. */
  def dateEpochBoxed(s: UTF8String): java.lang.Long = {
    if (s == null) return null
    val ep = LineParser.dateEpoch(s.toString)
    if (ep == Long.MinValue) null else java.lang.Long.valueOf(ep)
  }

  /** chrono-format launch-date classification ([[ChronoDate]]): ParseError
    * kind ordinal, 0 = valid. Null only on null input. */
  def chronoClassifyBoxed(s: UTF8String): java.lang.Integer = {
    if (s == null) return null
    Integer.valueOf(ChronoDate.parse(s.getBytes).err)
  }

  /** LOCAL epoch seconds of a chrono-valid launch date; null when invalid. */
  def chronoEpochLocalBoxed(s: UTF8String): java.lang.Long = {
    if (s == null) return null
    val r = ChronoDate.parse(s.getBytes)
    if (r.err == ChronoDate.Ok) java.lang.Long.valueOf(r.epochLocal) else null
  }

  // ---- envelope ----------------------------------------------------------

  private val U_INVALID = UTF8String.fromString("invalid")

  /** struct(status tinyint, date string, kind tinyint, subject string,
    * event_type string, params string, ts long).
    *
    * Fast path: [[ByteParser]] -- one byte copy, zero transcoding, output
    * fields as views; the String-based [[LineParser]] only runs for lines
    * the byte parser refuses (non-ASCII at a UTF-16-sensitive position). */
  def parseRawLine(line: UTF8String): InternalRow = {
    val rb = ByteParser.parse(line)
    if (rb != null) {
      val out = new GenericInternalRow(7)
      out.update(0, rb.status)
      if (rb.status == LineParser.OK) {
        out.update(1, rb.date)
        out.update(2, rb.kind)
        out.update(3, rb.subject)
        out.update(4, rb.eventType)
        out.update(5, rb.params)
        if (rb.ts != Long.MinValue) out.setLong(6, rb.ts)
      } else {
        out.update(4, U_INVALID)
      }
      return out
    }
    val r = LineParser.parse(line.toString)
    val out = new GenericInternalRow(7)
    out.update(0, r.status)
    if (r.status == LineParser.OK) {
      out.update(1, UTF8String.fromString(r.date))
      out.update(2, r.kind)
      out.update(3, if (r.subject == null) null else UTF8String.fromString(r.subject))
      out.update(4, UTF8String.fromString(r.eventType))
      out.update(5, UTF8String.fromString(r.params))
      val ep = LineParser.dateEpoch(r.date)
      if (ep != Long.MinValue) out.setLong(6, ep)
    } else {
      out.update(4, U_INVALID)
    }
    out
  }

  private val U_ERR_KEY = UTF8String.fromString("__error")
  private val U_ONE = UTF8String.fromString("1")

  /** Typed param extraction -> map<string,string>; parse errors surface as a
    * `__error -> "1"` entry. Duplicate keys keep the LAST occurrence at the
    * FIRST position (mirrors the reference's sequential field assignment;
    * LinkedHashMap.put semantics). Fast path: [[ByteParser.paramsFor]]. */
  def paramsMap(eventType: UTF8String, params: UTF8String): MapData = {
    val pb = ByteParser.paramsFor(eventType, params)
    if (pb != null) {
      var n = pb.keys.length
      val err = pb.error || ByteParser.typedError(eventType, pb.keys, pb.values)
      // duplicate keys are rare: O(n^2) scan over the <=~8 short keys beats
      // a LinkedHashMap allocation + hashing per row on the classify leg
      var hasDup = err && {
        var i = 0; var found = false
        while (i < n && !found) { found = pb.keys(i).equals(U_ERR_KEY); i += 1 }
        found
      }
      var i = 1
      while (i < n && !hasDup) {
        var j = 0
        while (j < i && !hasDup) { hasDup = pb.keys(i).equals(pb.keys(j)); j += 1 }
        i += 1
      }
      if (!hasDup) {
        val m = n + (if (err) 1 else 0)
        val ks = new Array[Any](m)
        val vs = new Array[Any](m)
        i = 0
        while (i < n) { ks(i) = pb.keys(i); vs(i) = pb.values(i); i += 1 }
        if (err) { ks(n) = U_ERR_KEY; vs(n) = U_ONE }
        return new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
      }
      val keys = new java.util.LinkedHashMap[UTF8String, UTF8String](n * 2)
      i = 0
      while (i < n) { keys.put(pb.keys(i), pb.values(i)); i += 1 }
      if (err) keys.put(U_ERR_KEY, U_ONE)
      n = keys.size()
      val ks = new Array[Any](n)
      val vs = new Array[Any](n)
      val it = keys.entrySet().iterator()
      i = 0
      while (it.hasNext) {
        val e = it.next()
        ks(i) = e.getKey
        vs(i) = e.getValue
        i += 1
      }
      return new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
    }
    val ty = eventType.toString
    val p = LineParser.paramsFor(ty, params.toString)
    var n = p.keys.length
    // dedupe last-wins (rare): scan for duplicates
    val keys = new java.util.LinkedHashMap[String, String](n * 2)
    var i = 0
    while (i < n) { keys.put(p.keys(i), p.values(i)); i += 1 }
    if (p.error || LineParser.typedError(ty, p.keys, p.values)) keys.put("__error", "1")
    n = keys.size()
    val ks = new Array[Any](n)
    val vs = new Array[Any](n)
    val it = keys.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val e = it.next()
      ks(i) = UTF8String.fromString(e.getKey)
      vs(i) = UTF8String.fromString(e.getValue)
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }

  // ---- one-pass typed param extraction -----------------------------------

  private val K_TEXT = UTF8String.fromString("_text")
  private val K_TARGET = UTF8String.fromString("_target")
  private val K_AGAINST = UTF8String.fromString("against")
  private val K_TARGET_KIND = UTF8String.fromString("_target_kind")
  private val K_HEALING = UTF8String.fromString("healing")
  private val K_DAMAGE = UTF8String.fromString("damage")
  private val K_UBERCHARGE = UTF8String.fromString("ubercharge")
  private val K_DURATION = UTF8String.fromString("duration")
  private val K_TIME = UTF8String.fromString("time")
  private val K_AS = UTF8String.fromString("as")
  private val K_TO = UTF8String.fromString("to")
  private val T_SPAWNED = UTF8String.fromString("spawned")
  private val T_ROLE_CHANGE = UTF8String.fromString("role_change")

  /** One-pass typed extraction for the classify/flatten leg -- value-
    * identical to building [[paramsMap]] and reading it back with the
    * `element_at` + clamp/parse chain in TfPipeline.flattenTyped, but with
    * no intermediate MapType (no map allocation, no per-key linear map
    * scans): a single forward scan over the parsed key/value arrays with
    * overwrite-on-match replicates the map's last-occurrence-wins lookup.
    *
    * struct(err, text, target_raw, target_kind, healing, dmg, charge,
    * duration, f_time, class_str); field semantics:
    *  - err           = parse error || typed-field error (the `__error` entry)
    *  - target_raw    = coalesce(_target, against)
    *  - healing / dmg = u32-clamp / i64-clamp, null when absent or malformed
    *  - charge        = u32-clamp of ubercharge, 0 when absent/malformed
    *  - duration/f_time = f32 parse, 0f when absent/malformed
    *  - class_str     = normalized `as` (spawned) / `to` (role_change)
    */
  def typedParams(eventType: UTF8String, params: UTF8String): InternalRow = {
    var err = false
    var text: UTF8String = null
    var target: UTF8String = null
    var against: UTF8String = null
    var targetKind: UTF8String = null
    var healingV: String = null
    var damageV: String = null
    var uberV: String = null
    var durV: String = null
    var timeV: String = null
    var clsRaw: String = null

    val pb = ByteParser.paramsFor(eventType, params)
    if (pb != null) {
      err = pb.error || ByteParser.typedError(eventType, pb.keys, pb.values)
      val wantAs = eventType.equals(T_SPAWNED)
      val wantTo = eventType.equals(T_ROLE_CHANGE)
      val ks = pb.keys
      val vs = pb.values
      var i = 0
      while (i < ks.length) {
        val k = ks(i)
        if (k.equals(K_TEXT)) text = vs(i)
        else if (k.equals(K_TARGET)) target = vs(i)
        else if (k.equals(K_AGAINST)) against = vs(i)
        else if (k.equals(K_TARGET_KIND)) targetKind = vs(i)
        else if (k.equals(K_HEALING)) healingV = vs(i).toString
        else if (k.equals(K_DAMAGE)) damageV = vs(i).toString
        else if (k.equals(K_UBERCHARGE)) uberV = vs(i).toString
        else if (k.equals(K_DURATION)) durV = vs(i).toString
        else if (k.equals(K_TIME)) timeV = vs(i).toString
        else if (wantAs && k.equals(K_AS)) clsRaw = vs(i).toString
        else if (wantTo && k.equals(K_TO)) clsRaw = vs(i).toString
        i += 1
      }
    } else {
      val ty = eventType.toString
      val p = LineParser.paramsFor(ty, params.toString)
      err = p.error || LineParser.typedError(ty, p.keys, p.values)
      val wantAs = ty == "spawned"
      val wantTo = ty == "role_change"
      var i = 0
      while (i < p.keys.length) {
        val k = p.keys(i)
        val v = p.values(i)
        k match {
          case "_text"        => text = UTF8String.fromString(v)
          case "_target"      => target = UTF8String.fromString(v)
          case "against"      => against = UTF8String.fromString(v)
          case "_target_kind" => targetKind = UTF8String.fromString(v)
          case "healing"      => healingV = v
          case "damage"       => damageV = v
          case "ubercharge"   => uberV = v
          case "duration"     => durV = v
          case "time"         => timeV = v
          case "as" if wantAs => clsRaw = v
          case "to" if wantTo => clsRaw = v
          case _              =>
        }
        i += 1
      }
    }

    val out = new GenericInternalRow(10)
    out.update(0, err)
    out.update(1, text)
    out.update(2, if (target != null) target else against)
    out.update(3, targetKind)
    if (healingV != null) {
      val h = LineParser.clampParse(healingV, 4294967295L)
      if (h != null) out.setLong(4, h.longValue())
    }
    if (damageV != null) {
      val d = LineParser.clampParseSigned(damageV, Long.MinValue, Long.MaxValue)
      if (d != null) out.setLong(5, d.longValue())
    }
    val c = if (uberV != null) LineParser.clampParse(uberV, 4294967295L) else null
    out.setLong(6, if (c != null) c.longValue() else 0L)
    val du = if (durV != null) LineParser.parseF32(durV) else null
    out.setFloat(7, if (du != null) du.floatValue() else 0f)
    val ft = if (timeV != null) LineParser.parseF32(timeV) else null
    out.setFloat(8, if (ft != null) ft.floatValue() else 0f)
    if (clsRaw != null) out.update(9, UTF8String.fromString(LineParser.classNormalize(clsRaw)))
    out
  }

  // ---- scalar field parsers (boxed-nullable for codegen) -----------------

  def clampIntBoxed(v: UTF8String, min: Long, max: Long): java.lang.Long =
    if (v == null) null else LineParser.clampParseSigned(v.toString, min, max)

  def parseF32Boxed(v: UTF8String): java.lang.Float =
    if (v == null) null else LineParser.parseF32(v.toString)

  /** `"x y z"` -> array<int>(3) with i32 clamp semantics; null on malformed. */
  def parsePosition(v: UTF8String): ArrayData = {
    if (v == null) return null
    val s = v.toString
    val a = s.indexOf(' ')
    if (a < 0) return null
    val b = s.indexOf(' ', a + 1)
    if (b < 0) return null
    val x = LineParser.clampParseSigned(s.substring(0, a), Int.MinValue, Int.MaxValue)
    val y = LineParser.clampParseSigned(s.substring(a + 1, b), Int.MinValue, Int.MaxValue)
    val z = LineParser.clampParseSigned(s.substring(b + 1), Int.MinValue, Int.MaxValue)
    if (x == null || y == null || z == null) return null
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array[Int](x.intValue(), y.intValue(), z.intValue()))
  }

  def classNormalize(v: UTF8String): UTF8String =
    if (v == null) null else UTF8String.fromString(LineParser.classNormalize(v.toString))

  // ---- subject ids -------------------------------------------------------

  def subjectId(kind: Byte, subject: UTF8String): Long =
    if (subject == null) Steam.subjectId(kind, null)
    else Steam.subjectIdU(kind, subject)

  def againstSubjectId(raw: UTF8String): java.lang.Long =
    if (raw == null) null else java.lang.Long.valueOf(Steam.againstSubjectIdU(raw))

  def playerSubjectId(raw: UTF8String): java.lang.Long =
    if (raw == null) null else java.lang.Long.valueOf(Steam.playerSubjectIdU(raw))

  // ---- shingles ----------------------------------------------------------

  private val SPACE = UTF8String.fromString(" ")

  /** n-word shingles joined by a single space, one native pass -- value-
    * identical to transform(sequence(...), i -> concat_ws(' ', w[i..i+n-1]))
    * including concat_ws's null-skipping, without the interpreted
    * higher-order machinery (sequence + n element_ats + concat_ws per
    * shingle). Empty array when fewer than n words. */
  def shingles(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    val win = new Array[UTF8String](n)
    var j = 0
    while (j <= m - n) {
      var i = 0
      while (i < n) { win(i) = words.getUTF8String(j + i); i += 1 }
      out(j) = UTF8String.concatWs(SPACE, win: _*)
      j += 1
    }
    new GenericArrayData(out)
  }

  // ---- embeddings --------------------------------------------------------

  /** All `tables` random-hyperplane buckets of a quantized (long) vector in
    * one pass. `weights` is the flattened [table][bit][dim] plane matrix;
    * integer arithmetic identical to the per-bit zip_with/aggregate
    * formulation (and the DuckDB twin). */
  def rhpBuckets(qvec: ArrayData, weights: Array[Long], tables: Int, bits: Int, dim: Int): ArrayData = {
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * dim
        var acc = 0L
        var i = 0
        while (i < dim) { acc += qvec.getLong(i) * weights(base + i); i += 1 }
        if (acc >= 0) bucket |= 1L << b
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** floor(cosine(a, b) * 10000) over float vectors, accumulating in doubles
    * in index order -- bit-identical to the
    * aggregate(zip_with(...)) / sqrt / floor expression chain. Null on
    * length mismatch or null elements (the expression chain's null
    * propagation). */
  def cosineX10000(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0d; var na = 0d; var nb = 0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val c = dot / (math.sqrt(na) * math.sqrt(nb))
    if (java.lang.Double.isNaN(c)) return null
    java.lang.Long.valueOf(math.floor(c * 10000d).toLong)
  }

  /** Top-`nProbe` IVF cells of one vector against a flattened broadcast
    * centroid matrix, in ONE map-side pass -- the replacement for the
    * `row_number().over(partitionBy(id))` probe-selection window, which
    * shuffled the corpus expanded n_centroids-fold (VERDICT r5 scale-killer
    * #2). Value-identical to ranking `cosineX10000(vec, cvec)` by
    * (score desc NULLS LAST, cid asc) and keeping crank <= max(1, nProbe):
    *  - per-centroid score arithmetic is the exact [[cosineX10000]] double
    *    accumulation in index order (each accumulator only ever adds its own
    *    terms in index order, so hoisting na / cnorm2 out of the pair loop is
    *    bit-identical);
    *  - a null/length-mismatched/NaN score ranks after every non-null score,
    *    ties break by cid asc -- the window's desc NULLS LAST order;
    *  - `cids` MUST be sorted ascending (the flattener guarantees it), so
    *    equal-score ties resolve by first-wins insertion.
    * Returns the probed cell ids best-first (length min(max(1,nProbe),
    * nCent)); a NULL input vector still ranks all-null scores by cid asc,
    * exactly like the window over a null-scored cross join. */
  def ivfProbeCells(
      vec: ArrayData,
      cids: Array[Long],
      cents: Array[Float],
      cnorm2: Array[Double],
      centBad: Array[Boolean],
      dim: Int,
      nProbe: Int): ArrayData = {
    val nCent = cids.length
    val np = math.min(math.max(1, nProbe), nCent)
    if (np == 0) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    // row-level score nullity + vec copy (doubles, read once)
    var allNull = vec == null || vec.numElements() != dim
    val xs = new Array[Double](if (allNull) 0 else dim)
    var na = 0d
    if (!allNull) {
      var i = 0
      while (i < dim && !allNull) {
        if (vec.isNullAt(i)) allNull = true
        else { val x = vec.getFloat(i).toDouble; xs(i) = x; na += x * x }
        i += 1
      }
    }
    val sCid = new Array[Long](np)
    val sScore = new Array[Long](np)
    val sNull = new Array[Boolean](np)
    var filled = 0
    var j = 0
    while (j < nCent) {
      var isNull = allNull || centBad(j)
      var score = 0L
      if (!isNull) {
        var dot = 0d
        val base = j * dim
        var i = 0
        while (i < dim) { dot += xs(i) * cents(base + i).toDouble; i += 1 }
        val c = dot / (math.sqrt(na) * math.sqrt(cnorm2(j)))
        if (java.lang.Double.isNaN(c)) isNull = true
        else score = math.floor(c * 10000d).toLong
      }
      // insertion position: ranks before slot p-1? (cids ascend, so equal
      // keys never displace an earlier slot)
      var pos = filled
      while (pos > 0 && {
          val beats =
            if (!isNull && sNull(pos - 1)) true
            else if (isNull && !sNull(pos - 1)) false
            else if (isNull) cids(j) < sCid(pos - 1)
            else score > sScore(pos - 1) ||
              (score == sScore(pos - 1) && cids(j) < sCid(pos - 1))
          beats
        }) pos -= 1
      if (pos < np) {
        var m = math.min(filled, np - 1)
        while (m > pos) {
          sCid(m) = sCid(m - 1); sScore(m) = sScore(m - 1); sNull(m) = sNull(m - 1)
          m -= 1
        }
        sCid(pos) = cids(j); sScore(pos) = score; sNull(pos) = isNull
        if (filled < np) filled += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(sCid, filled))
  }

  // ---- minhash -----------------------------------------------------------

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex digits of an md5 digest as a long -- exactly
    * `conv(substring(md5(x),1,15),16,10)` (TextOps.stableHash60): the
    * big-endian value of the first 8 digest bytes shifted right one nibble
    * (15 nibbles = 60 bits, always non-negative). */
  private def md5Hash60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  private val MinhashPrefix = "x:".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** All k md5-based double-hashing MinHash signature values in ONE
    * traversal -- value-identical to the Dedup.minhashHashPairs +
    * minhashSignature expression chain (the DuckDB-reproducible oracle
    * path): per non-null shingle s, h1 = hash60(md5(s)),
    * h2 = hash60(md5("x:" + s)) mod 2^53, sig_i = min over shingles of
    * (h1 + i*h2) mod 2^60. The chain paid two md5 EXPRESSION calls per
    * shingle (hex-string alloc + substring + conv string parse each) plus k
    * interpreted transform+array_min passes over the pairs array; the
    * kernel hashes each shingle once per base hash natively and folds all k
    * mins in the same pass. Null shingles are skipped (array_min null-skip
    * over the null-propagated affine); an empty/all-null array returns null
    * (every sig_i null via element_at). Exact-arithmetic bound k <= 896 as
    * in minhashSignature: h1 + i*h2 < 2^60 + 896 * 2^53 = 2^63 for i < 896;
    * beyond it the Long sum wraps negative. */
  def minhashMd5Multi(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    val md = md5Local.get()
    var j = 0
    while (j < n) {
      if (!shingles.isNullAt(j)) {
        any = true
        val s = shingles.getUTF8String(j).getBytes
        md.reset()
        val h1 = md5Hash60(md.digest(s))
        md.reset()
        md.update(MinhashPrefix)
        md.update(s)
        val h2 = md5Hash60(md.digest()) % 9007199254740992L // 2^53
        var i = 0
        while (i < k) {
          val gi = (h1 + i * h2) % 1152921504606846976L // 2^60
          if (gi < mins(i)) mins(i) = gi
          i += 1
        }
      }
      j += 1
    }
    if (!any) null else UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Per-salt seeds replicating `xxhash64(lit(i), s)`: the int literal is
    * hashed first with the function's default seed 42, and that value seeds
    * the string hash. */
  def minhashSeeds(k: Int): Array[Long] = {
    val seeds = new Array[Long](k)
    var i = 0
    while (i < k) {
      seeds(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, 42L)
      i += 1
    }
    seeds
  }

  /** 60-bit SimHash over the word multiset in one native pass -- value-
    * identical to the fold formulation over xxhash64(w) & (2^60-1) with
    * per-bit +-1 votes (bit set where votes > 0); a null word hashes to the
    * bare seed 42, exactly like xxhash64's null-skip. */
  def simhash60Fast(words: ArrayData): Long = {
    val n = words.numElements()
    val votes = new Array[Int](60)
    var j = 0
    while (j < n) {
      val w = words.getUTF8String(j)
      val h =
        if (w == null) 42L
        else
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes(), 42L)
      val hm = h & 0xfffffffffffffffL
      var b = 0
      while (b < 60) {
        if (((hm >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  /** All k MinHash values in ONE traversal of the shingle array: for each
    * element, k xxhash64 values (seeded per salt) folded into running mins.
    * Value-identical to `array_min(transform(sh, s => xxhash64(lit(i), s)))`
    * per salt, but a single codegen'd pass with zero intermediate arrays
    * instead of k interpreted higher-order passes. Null on an empty array
    * (array_min([]) semantics); a null element contributes the bare seed,
    * exactly like xxhash64's null-skip. */
  def minhashMulti(arr: ArrayData, seeds: Array[Long]): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val k = seeds.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      var i = 0
      if (s == null) {
        while (i < k) { if (seeds(i) < mins(i)) mins(i) = seeds(i); i += 1 }
      } else {
        val base = s.getBaseObject
        val off = s.getBaseOffset
        val len = s.numBytes()
        while (i < k) {
          val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(base, off, len, seeds(i))
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}
