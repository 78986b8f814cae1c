package graft.etl

import java.util.HexFormat
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** AES-128-CBC with PKCS7 padding, hex(iv ‖ ciphertext) wire format —
  * the reference's deterministic password encryption
  * (aes_pkcs7.py:36–69; key = raw UTF-8 password bytes, etl.py:354–355).
  *
  * The merge kernel (`SyncEngine.mergeOne`) and the ph15 write-through
  * encrypt through it; the kernel passes a row-dependent IV
  * (compare-under-old-IV, etl.py:989–992). PKCS5Padding in JCA == PKCS7
  * for the 16-byte AES block.
  */
object Aes {

  private val hex = HexFormat.of()
  private val random = new java.security.SecureRandom()

  def encryptHex(plain: String, keyUtf8: String, ivHex: Option[String]): String = {
    val iv = ivHex match {
      case Some(h) => hex.parseHex(h)
      case None =>
        val b = new Array[Byte](16)
        random.nextBytes(b)
        b
    }
    val c = Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(Cipher.ENCRYPT_MODE,
      new SecretKeySpec(keyUtf8.getBytes("UTF-8"), "AES"),
      new IvParameterSpec(iv))
    hex.formatHex(iv ++ c.doFinal(plain.getBytes("UTF-8")))
  }

  def decryptHex(hexStr: String, keyUtf8: String): String = {
    val all = hex.parseHex(hexStr)
    val c = Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(Cipher.DECRYPT_MODE,
      new SecretKeySpec(keyUtf8.getBytes("UTF-8"), "AES"),
      new IvParameterSpec(all.take(16)))
    new String(c.doFinal(all.drop(16)), "UTF-8")
  }
}
