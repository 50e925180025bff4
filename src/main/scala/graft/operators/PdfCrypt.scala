package graft.operators

import java.nio.charset.StandardCharsets.ISO_8859_1

import scala.util.control.NonFatal

/**
 * PDF STANDARD SECURITY HANDLER (ISO 32000-1 §7.6.3) — the
 * empty-user-password case, which is the single most common "encrypted"
 * PDF in a real crawl: print drivers and scan-to-PDF appliances set an
 * OWNER password (to restrict editing) but leave the USER password
 * empty, so every conforming reader opens the file without prompting.
 * These documents should EXTRACT, not blank (l136) — only documents
 * whose user password is actually non-empty keep [[PdfText]]'s
 * ciphertext-is-not-text contract.
 *
 * Implements, from the public spec only:
 *  - Algorithm 2  (§7.6.3.3): file encryption key from the padded
 *    (empty) user password, /O, /P, the first /ID element, and — for
 *    R ≥ 4 with /EncryptMetadata false — the 0xFFFFFFFF suffix; 50
 *    extra MD5 rounds for R ≥ 3.
 *  - Algorithm 3  (§7.6.3.4): the /O value — construction side only
 *    (the fixture writer sets a real owner password so the dictionary
 *    is the exact shape a print driver emits).
 *  - Algorithms 4/5 (§7.6.3.4): the /U value, both the R = 2 full
 *    RC4(pad) form and the R ≥ 3 MD5(pad ‖ ID) + 19-round form; used
 *    construction-side to WRITE /U and extraction-side to AUTHENTICATE
 *    the empty user password (R ≥ 3 compares the first 16 bytes, the
 *    spec's rule — the trailing 16 are arbitrary padding).
 *  - Algorithm 1  (§7.6.2): the per-object key — MD5(key ‖ objnum-LE3
 *    ‖ gennum-LE2 ‖ "sAlT" for AESV2), truncated to min(n+5, 16) —
 *    then RC4, or AES-128-CBC with the 16-byte IV prepended to the
 *    ciphertext and PKCS#5 block padding.
 *
 * Handler coverage: /Filter /Standard with V ∈ {1, 2} (RC4, 40–128
 * bit), V = 4 crypt filters whose /StdCF /CFM is /V2 (RC4) or
 * /AESV2 (AES-128) — the layouts Acrobat 4–9 wrote — and V = 5 with
 * R ∈ {5, 6} (/AESV3, AES-256: ISO 32000-2 §7.6.4 — the Algorithm-2.B
 * iterated hash validates the empty password against /U and the
 * 256-bit file key unwraps from /UE; data decrypts under the file key
 * directly, no per-object keys). Non-Standard handlers, unknown crypt
 * filters, and malformed dictionaries are declined: [[decryptor]]
 * returns None and the document keeps the
 * empty-text contract. All crypto is JDK (`java.security.MessageDigest`
 * MD5/SHA-2, `javax.crypto` AES/CBC) plus the 10-line public RC4
 * schedule — no dependencies.
 *
 * Scale: key derivation is once per document, per-object keys are one
 * MD5 each, and everything runs inside the same `mapPartitions` codec
 * boundary as the rest of [[PdfText]] — per-row work, no shuffle, no
 * driver involvement.
 */
object PdfCrypt {

  /** The spec's 32-byte password pad (§7.6.3.3, Table 21 prose). */
  private[operators] val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  /** RC4 (public algorithm; symmetric, so this is both halves of the
    * round trip — the Deflater/Inflater relationship collapsed into
    * one function). */
  private[operators] def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + key(i % key.length)) & 0xFF
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0; var y = 0; var k = 0
    while (k < data.length) {
      x = (x + 1) & 0xFF
      y = (y + s(x)) & 0xFF
      val t = s(x); s(x) = s(y); s(y) = t
      out(k) = (data(k) ^ s((s(x) + s(y)) & 0xFF)).toByte
      k += 1
    }
    out
  }

  /** Password padded/truncated to exactly 32 bytes (§7.6.3.3 step a). */
  private def padPassword(pw: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](32)
    val n = math.min(pw.length, 32)
    System.arraycopy(pw, 0, out, 0, n)
    System.arraycopy(Pad, 0, out, n, 32 - n)
    out
  }

  private def intLE(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  /** Algorithm 2: the file encryption key (`keyBytes` = /Length ÷ 8;
    * R = 2 forces 5). Same function both sides — construction passes
    * its chosen parameters, extraction passes the PARSED dictionary. */
  private[operators] def fileKey(userPw: Array[Byte], o: Array[Byte], p: Int,
                                 id0: Array[Byte], r: Int, keyBytes: Int,
                                 encryptMetadata: Boolean): Array[Byte] = {
    val n = if (r == 2) 5 else keyBytes
    val extra =
      if (r >= 4 && !encryptMetadata) Array.fill(4)(0xFF.toByte)
      else Array.emptyByteArray
    var h = md5(padPassword(userPw), o, intLE(p), id0, extra)
    if (r >= 3) {
      var i = 0
      while (i < 50) { h = md5(h.take(n)); i += 1 }
    }
    h.take(n)
  }

  /** Algorithm 3: the /O value from the owner password (construction
    * side — a reader only needs it as key-derivation input bytes). */
  private[operators] def computeO(ownerPw: Array[Byte], userPw: Array[Byte],
                                  r: Int, keyBytes: Int): Array[Byte] = {
    var h = md5(padPassword(ownerPw))
    if (r >= 3) { var i = 0; while (i < 50) { h = md5(h); i += 1 } }
    val n = if (r == 2) 5 else keyBytes
    val rc4Key = h.take(n)
    var out = rc4(rc4Key, padPassword(userPw))
    if (r >= 3) {
      var i = 1
      while (i <= 19) {
        out = rc4(rc4Key.map(b => (b ^ i).toByte), out)
        i += 1
      }
    }
    out
  }

  /** Algorithms 4 (R = 2) / 5 (R ≥ 3): the /U value for `key`. R ≥ 3
    * returns the 16 significant bytes (writers pad to 32 with
    * arbitrary bytes; comparison is on the first 16 per the spec). */
  private[operators] def computeU(key: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] =
    if (r == 2) rc4(key, Pad)
    else {
      var u = rc4(key, md5(Pad, id0))
      var i = 1
      while (i <= 19) {
        u = rc4(key.map(b => (b ^ i).toByte), u)
        i += 1
      }
      u
    }

  // ------------------------------------------------- V5 / AES-256 (2.0)

  private def sha(alg: String, parts: Array[Byte]*): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance(alg)
    parts.foreach(d.update)
    d.digest()
  }

  /** ISO 32000-2 Algorithm 2.B (R6) / the single-SHA-256 R5 form: the
    * password hash used both to VALIDATE against /U[0..32) and (with
    * the key salt) to unwrap /UE. R6 iterates: 64× concatenation of
    * (password ‖ K ‖ udata) AES-128-CBC-encrypted under K's halves,
    * next digest picked by E[0..16) mod 3, at least 64 rounds, then
    * until E's last byte ≤ round − 32. Shared by the fixture writer
    * and the reader (the RC4 discipline: one public-spec function,
    * independently-sourced inputs on the two sides). */
  private[operators] def hash2B(password: Array[Byte], salt: Array[Byte],
                                udata: Array[Byte], r: Int): Array[Byte] = {
    var k = sha("SHA-256", password, salt, udata)
    if (r == 5) return k
    // per-CALL instances, reused across the ≥64 rounds: getInstance is
    // a provider lookup, and paying it per round made the KDF ~4× its
    // intrinsic cost on the corpus path (this function runs twice per
    // encrypted document — it IS a password KDF, slow by design, but
    // only the crypto should be the cost)
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    val digests = Array("SHA-256", "SHA-384", "SHA-512")
      .map(java.security.MessageDigest.getInstance)
    var i = 0
    var done = false
    while (!done && i < 4096) { // spec loop; bound is a corruption guard
      val block = password ++ k ++ udata
      val k1 = new Array[Byte](block.length * 64)
      var j = 0
      while (j < 64) { System.arraycopy(block, 0, k1, j * block.length, block.length); j += 1 }
      cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(k.take(16), "AES"),
        new javax.crypto.spec.IvParameterSpec(k.slice(16, 32)))
      val e = cipher.doFinal(k1)
      var sum = 0
      var m = 0
      while (m < 16) { sum += e(m) & 0xFF; m += 1 }
      val d = digests(sum % 3)
      d.reset()
      k = d.digest(e)
      // ISO 32000-2 Algorithm 2.B: at least 64 rounds, stop when the
      // last byte of E is <= (rounds COMPLETED - 32); after 0-based
      // round i, rounds completed = i + 1, so the bound is i - 31.
      if (i >= 63 && (e(e.length - 1) & 0xFF) <= i - 31) done = true
      i += 1
    }
    k.take(32)
  }

  /** AES-CBC without padding (the /UE//OE key unwrap uses a zero IV
    * and exact 32-byte blocks). */
  private def aesNoPad(mode: Int, key: Array[Byte], iv: Array[Byte],
                       data: Array[Byte]): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(mode, new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c.doFinal(data)
  }

  /** Unwrap the V5 file key from /UE with the empty user password's
    * intermediate key (Algorithm 2.A tail). */
  private[operators] def unwrapFileKeyV5(userPw: Array[Byte], keySalt: Array[Byte],
                                         ue: Array[Byte], r: Int): Array[Byte] =
    aesNoPad(javax.crypto.Cipher.DECRYPT_MODE,
      hash2B(userPw, keySalt, Array.emptyByteArray, r), new Array[Byte](16), ue)

  /** Wrap (construction side). */
  private[operators] def wrapFileKeyV5(userPw: Array[Byte], keySalt: Array[Byte],
                                       fileKey: Array[Byte], r: Int): Array[Byte] =
    aesNoPad(javax.crypto.Cipher.ENCRYPT_MODE,
      hash2B(userPw, keySalt, Array.emptyByteArray, r), new Array[Byte](16), fileKey)

  /** The /OE wrap (construction side): the owner key-salt hash takes
    * the full 48-byte /U as its `udata` per Algorithm 9/10. */
  private[operators] def wrapOwnerKeyV5(ownerPw: Array[Byte], keySalt: Array[Byte],
                                        u48: Array[Byte], fileKey: Array[Byte]): Array[Byte] =
    aesNoPad(javax.crypto.Cipher.ENCRYPT_MODE,
      hash2B(ownerPw, keySalt, u48, 6), new Array[Byte](16), fileKey)

  /** AES-CBC over IV ‖ ciphertext (§7.6.2), PKCS#5: V5 streams and
    * strings with the FILE key directly, V4 AESV2 with the per-object
    * key ([[decryptData]]). A short, unaligned or badly padded input
    * degrades to empty, never throws — the crawl decode contract. */
  private def aesCbcDecrypt(key: Array[Byte], data: Array[Byte]): Array[Byte] =
    if (data.length < 32 || data.length % 16 != 0) Array.emptyByteArray
    else try {
      aesCipher(javax.crypto.Cipher.DECRYPT_MODE, key, data.take(16))
        .doFinal(data, 16, data.length - 16)
    } catch { case NonFatal(_) => Array.emptyByteArray }

  private[operators] def encryptDataV5(fileKey: Array[Byte], data: Array[Byte],
                                       iv: Array[Byte]): Array[Byte] =
    iv ++ aesCipher(javax.crypto.Cipher.ENCRYPT_MODE, fileKey, iv).doFinal(data)

  /** Algorithm 1's per-object key. */
  private def objectKey(key: Array[Byte], num: Long, gen: Int, aes: Boolean): Array[Byte] = {
    val ext = Array(
      (num & 0xFF).toByte, ((num >> 8) & 0xFF).toByte, ((num >> 16) & 0xFF).toByte,
      (gen & 0xFF).toByte, ((gen >> 8) & 0xFF).toByte)
    val salt =
      if (aes) Array(0x73.toByte, 0x41.toByte, 0x6C.toByte, 0x54.toByte) // "sAlT"
      else Array.emptyByteArray
    md5(key, ext, salt).take(math.min(key.length + 5, 16))
  }

  private def aesCipher(mode: Int, key: Array[Byte], iv: Array[Byte]) = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(mode, new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c
  }

  /** Decrypt one object's stream/string bytes with its per-object key:
    * RC4, or [[aesCbcDecrypt]]. */
  private[operators] def decryptData(key: Array[Byte], num: Long, gen: Int,
                                     data: Array[Byte], aes: Boolean): Array[Byte] = {
    val ok = objectKey(key, num, gen, aes)
    if (aes) aesCbcDecrypt(ok, data) else rc4(ok, data)
  }

  /** Encrypt (construction side): prepends the caller's IV for AES. */
  private[operators] def encryptData(key: Array[Byte], num: Long, gen: Int,
                                     data: Array[Byte], aes: Boolean,
                                     iv: Array[Byte] = null): Array[Byte] = {
    val ok = objectKey(key, num, gen, aes)
    if (!aes) rc4(ok, data)
    else iv ++ aesCipher(javax.crypto.Cipher.ENCRYPT_MODE, ok, iv).doFinal(data)
  }

  // --------------------------------------------------- dictionary parse

  private val EncryptRef = "/Encrypt\\s+(\\d{1,9})\\s+\\d{1,5}\\s+R".r
  private val IntEntry = Map(
    "V" -> "/V\\s+(\\d{1,3})".r, "R" -> "/R\\s+(\\d{1,3})".r,
    "Length" -> "/Length\\s+(\\d{1,4})".r)
  private val PEntry = "/P\\s+(-?\\d{1,12})".r
  private val CfmEntry = "/CFM\\s*/([A-Za-z0-9]+)".r
  private val StmFEntry = "/StmF\\s*/([A-Za-z0-9]+)".r

  /** First /ID array element's bytes: `/ID [ <hex…> … ]` or the
    * literal-string form; absent ID = empty (legal input to Alg 2). */
  private def firstIdBytes(s: String): Array[Byte] = {
    val at = "/ID\\s*\\[\\s*".r.findAllMatchIn(s).toSeq.lastOption.map(_.end)
    at.flatMap { i =>
      if (i < s.length && s.charAt(i) == '<')
        Some(PdfText.hexString(s, i, s.length)._1.getBytes(ISO_8859_1))
      else if (i < s.length && s.charAt(i) == '(')
        Some(PdfText.literalString(s, i, s.length)._1.getBytes(ISO_8859_1))
      else None
    }.getOrElse(Array.emptyByteArray)
  }

  /** A `/Key (…)` or `/Key <…>` string value's bytes from a dict. */
  private def stringValue(dict: String, key: String): Option[Array[Byte]] =
    ("/" + key + "\\s*").r.findFirstMatchIn(dict).flatMap { m =>
      val i = m.end
      if (i < dict.length && dict.charAt(i) == '(')
        Some(PdfText.literalString(dict, i, dict.length)._1.getBytes(ISO_8859_1))
      else if (i < dict.length && dict.charAt(i) == '<' &&
               !(i + 1 < dict.length && dict.charAt(i + 1) == '<'))
        Some(PdfText.hexString(dict, i, dict.length)._1.getBytes(ISO_8859_1))
      else None
    }

  /** Locate object `num`'s top-level dictionary by keyword walk (the
    * Encrypt dict is plaintext by spec, so no decryption ordering
    * problem — this runs BEFORE any key exists). */
  private def objectDict(s: String, num: Long): Option[String] = {
    val p = java.util.regex.Pattern.compile("(?<![0-9])" + num + "\\s+\\d{1,5}\\s+obj\\b")
    val m = p.matcher(s)
    var found: Option[String] = None
    while (m.find()) { // last writer wins, the PDF update semantics
      var i = m.end
      while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
      if (s.startsWith("<<", i)) found = Some(PdfText.balancedDict(s, i)._1)
    }
    found
  }

  /** The parse + authenticate + build step: Some(hook) iff the file
    * uses the Standard handler in a supported layout AND the empty
    * user password authenticates against /U. The hook decrypts one
    * object's stream payload (ISO-8859-1 byte-string in/out — the
    * byte-preserving convention of the whole PDF walk); `/Type /XRef`
    * streams pass through untouched (never encrypted, §7.5.8). */
  def decryptor(s: String): Option[(Long, Int, String, String) => String] = {
    try {
      val encNum = EncryptRef.findAllMatchIn(s).toSeq.lastOption.map(_.group(1).toLong)
      val dict = encNum.flatMap(objectDict(s, _)).getOrElse(return None)
      if (!"/Filter\\s*/Standard\\b".r.findFirstIn(dict).isDefined) return None
      def intOf(k: String, dflt: Int) =
        IntEntry(k).findFirstMatchIn(dict).map(_.group(1).toInt).getOrElse(dflt)
      val v = intOf("V", 0)
      val r = intOf("R", 0)
      val lengthBits = intOf("Length", 40)
      // V5 / AES-256 (ISO 32000-2 §7.6.4): validate the EMPTY user
      // password against /U's 32-byte hash + 8-byte validation salt,
      // unwrap the 256-bit file key from /UE with the key salt, then
      // AES-256-CBC with the file key directly (no per-object keys)
      if (v == 5 && (r == 5 || r == 6)) {
        val u = stringValue(dict, "U").getOrElse(return None)
        val ue = stringValue(dict, "UE").getOrElse(return None)
        if (u.length < 48 || ue.length < 32) return None
        val cfm = CfmEntry.findFirstMatchIn(dict).map(_.group(1))
        if (!cfm.forall(_ == "AESV3")) return None
        // absent /StmF defaults to /Identity (streams NOT encrypted,
        // ISO 32000 Table 20) — same contract as the V4 branch below
        val streamsEncryptedV5 =
          StmFEntry.findFirstMatchIn(dict).map(_.group(1)).contains("StdCF")
        val validation = hash2B(Array.emptyByteArray,
          java.util.Arrays.copyOfRange(u, 32, 40), Array.emptyByteArray, r)
        if (!java.util.Arrays.equals(validation, u.take(32))) return None
        val fileKey = unwrapFileKeyV5(Array.emptyByteArray,
          java.util.Arrays.copyOfRange(u, 40, 48), ue.take(32), r)
        return Some { (_: Long, _: Int, objDict: String, raw: String) =>
          if (!streamsEncryptedV5 || objDict.contains("/XRef")) raw
          else new String(aesCbcDecrypt(fileKey, raw.getBytes(ISO_8859_1)), ISO_8859_1)
        }
      }
      if (!(r == 2 || r == 3 || r == 4)) return None
      if (!(v == 1 || v == 2 || v == 4)) return None
      val aes = v == 4 && {
        val cfm = CfmEntry.findFirstMatchIn(dict).map(_.group(1))
        cfm match {
          case Some("AESV2") => true
          case Some("V2") => false
          case _ => return None // AESV3 / unknown crypt filter: decline
        }
      }
      // /StmF names the stream crypt filter; /Identity means streams
      // are NOT encrypted (spec default when absent)
      val streamsEncrypted = v != 4 ||
        StmFEntry.findFirstMatchIn(dict).map(_.group(1)).contains("StdCF")
      val o = stringValue(dict, "O").getOrElse(return None)
      val u = stringValue(dict, "U").getOrElse(return None)
      if (o.length < 32 || u.length < 16) return None
      val p = PEntry.findFirstMatchIn(dict).map(_.group(1).toLong.toInt)
        .getOrElse(return None)
      val encMeta = !"/EncryptMetadata\\s+false\\b".r.findFirstIn(dict).isDefined
      val id0 = firstIdBytes(s)
      val keyBytes = math.max(5, math.min(16, lengthBits / 8))
      val key = fileKey(Array.emptyByteArray, o, p, id0, r, keyBytes, encMeta)
      val expectU = computeU(key, id0, r)
      val authenticated =
        if (r == 2) java.util.Arrays.equals(expectU, u.take(32))
        else java.util.Arrays.equals(expectU.take(16), u.take(16))
      if (!authenticated) return None // a REAL user password: keep "" text
      Some { (num: Long, gen: Int, objDict: String, raw: String) =>
        if (!streamsEncrypted || objDict.contains("/XRef")) raw
        else new String(
          decryptData(key, num, gen, raw.getBytes(ISO_8859_1), aes), ISO_8859_1)
      }
    } catch { case NonFatal(_) => None } // malformed dict: degrade to ""
  }
}
