package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal PostgreSQL frontend/backend protocol (v3) client — just enough
  * surface to open a `replication=database` session, issue simple queries
  * (`IDENTIFY_SYSTEM`, `CREATE_REPLICATION_SLOT`, plus ordinary SQL on a
  * non-replication connection), and run the `START_REPLICATION … LOGICAL`
  * CopyBoth stream that carries pgoutput frames. Implemented from the
  * public protocol documentation (postgresql.org/docs/current/protocol.html
  * — message formats, and protocol-replication for XLogData / keepalive /
  * standby-status-update); no driver jar involved, so the live replication
  * path needs nothing beyond the JDK.
  *
  * Scope is deliberately narrow: trust, cleartext-password, or
  * SCRAM-SHA-256 auth (RFC 5802/7677 — the PG ≥ 14 `password_encryption`
  * default, so a default-configured server is reachable), optional TLS
  * (SSLRequest upgrade; trust levels `require`, `verify-ca` via
  * `sslRootCert`, and `verify-full` via JSSE endpoint identification —
  * see [[negotiateTls]]), text result format, simple query protocol only —
  * the subset a replication client needs (walsender connections don't
  * speak the extended protocol at all). Not a general-purpose driver.
  */
final class PgWireConnection(
    host: String, port: Int, db: String, user: String,
    password: Option[String] = None, replication: Boolean = false,
    ssl: Boolean = false,
    // libpq sslmode parity above `require`: a root-cert path turns on real
    // chain validation (verify-ca), and sslVerifyFull additionally checks
    // the cert's SAN against `host` via JSSE endpoint identification
    // (verify-full). Without a root cert the channel is encryption-only
    // and the peer is authenticated by SCRAM's mutual proof.
    sslRootCert: Option[String] = None, sslVerifyFull: Boolean = false)
  extends AutoCloseable {

  private val socket: Socket = {
    val plain = new Socket()
    plain.connect(new InetSocketAddress(host, port), 10000)
    plain.setTcpNoDelay(true)
    if (ssl) negotiateTls(plain) else plain
  }
  private val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))

  /** SSLRequest dance (protocol docs §55.2.10): int32 len 8 + magic
    * 80877103 on the RAW socket, one response byte — 'S' upgrades to TLS,
    * 'N' means the server won't. Runs BEFORE any buffered reader exists so
    * no handshake byte can be swallowed into a read-ahead buffer.
    * Default validation is libpq `sslmode=require` level: the channel is
    * encrypted but the peer is authenticated by SCRAM's mutual proof (the
    * server signature) and, on -PLUS, the RFC 5929 cert-hash binding.
    * With `sslRootCert` the chain must anchor at the given root(s)
    * (verify-ca); `sslVerifyFull` adds SAN-vs-host checking (verify-full). */
  private def negotiateTls(plain: Socket): Socket = {
    val rawOut = new DataOutputStream(plain.getOutputStream)
    rawOut.writeInt(8); rawOut.writeInt(80877103); rawOut.flush()
    val resp = plain.getInputStream.read()
    if (resp != 'S') throw new UnsupportedOperationException(
      s"pgwire: server declined SSL (response ${if (resp < 0) "EOF" else resp.toChar.toString})")
    val trust: Array[javax.net.ssl.TrustManager] = sslRootCert match {
      case None => Array(new javax.net.ssl.X509TrustManager {
        override def checkClientTrusted(
            c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
        override def checkServerTrusted(
            c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
        override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] =
          Array.empty
      })
      case Some(path) => // verify-ca: chain must anchor at the given root(s)
        val cf = java.security.cert.CertificateFactory.getInstance("X.509")
        val in = new java.io.FileInputStream(path)
        val certs = try cf.generateCertificates(in) finally in.close()
        val ks = java.security.KeyStore.getInstance(
          java.security.KeyStore.getDefaultType)
        ks.load(null, null)
        val it = certs.iterator()
        var i = 0
        while (it.hasNext) { ks.setCertificateEntry(s"root$i", it.next()); i += 1 }
        val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
          javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
        tmf.init(ks)
        tmf.getTrustManagers
    }
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(null, trust, new java.security.SecureRandom())
    val tls = ctx.getSocketFactory.createSocket(plain, host, port, true)
      .asInstanceOf[javax.net.ssl.SSLSocket]
    tls.setUseClientMode(true)
    if (sslVerifyFull) { // verify-full: SAN must cover `host` (JSSE rules)
      val params = tls.getSSLParameters
      params.setEndpointIdentificationAlgorithm("HTTPS")
      tls.setSSLParameters(params)
    }
    tls.startHandshake()
    tls
  }
  // Writes can come from the poll loop AND the idle-keepalive thread; the
  // stream itself is not thread-safe, so every outbound message holds this.
  private val writeLock = new Object

  private def cstr(b: ByteArrayOutputStream, s: String): Unit = {
    b.write(s.getBytes(UTF_8)); b.write(0)
  }

  /** Startup packet (untyped: int32 len, int32 version 3.0, k/v cstrings). */
  private def sendStartup(): Unit = writeLock.synchronized {
    val b = new ByteArrayOutputStream()
    cstr(b, "user"); cstr(b, user)
    cstr(b, "database"); cstr(b, db)
    if (replication) { cstr(b, "replication"); cstr(b, "database") }
    cstr(b, "application_name"); cstr(b, "graft-pgwire")
    b.write(0)
    val payload = b.toByteArray
    out.writeInt(payload.length + 8)
    out.writeInt(0x00030000)
    out.write(payload)
    out.flush()
  }

  /** One typed frontend message. */
  def send(msgType: Char, payload: Array[Byte]): Unit = writeLock.synchronized {
    out.writeByte(msgType)
    out.writeInt(payload.length + 4)
    out.write(payload)
    out.flush()
  }

  def sendQuery(sql: String): Unit = {
    val b = new ByteArrayOutputStream(); cstr(b, sql)
    send('Q', b.toByteArray)
  }

  /** Next backend message, blocking. */
  def receive(): (Char, Array[Byte]) = {
    val t = in.readByte().toChar
    readRest(t)
  }

  /** Next backend message, or None if no message STARTS within `ms`. Once a
    * type byte arrives the remainder is read blocking, so a timeout can
    * never leave a partially-consumed frame on the wire. EOF (the server
    * closed the connection — walsender killed, server restarted) throws
    * rather than returning None: a poll loop must see a RETRYABLE error,
    * not an eternal "no data yet". */
  def receiveTimeout(ms: Int): Option[(Char, Array[Byte])] = {
    socket.setSoTimeout(ms)
    val t0 =
      try in.read()
      catch { case _: SocketTimeoutException => -2 }
      finally socket.setSoTimeout(0)
    if (t0 == -2) None
    else if (t0 < 0) throw new java.io.EOFException(
      "pgwire: connection closed by server")
    else Some(readRest(t0.toChar))
  }

  private def readRest(msgType: Char): (Char, Array[Byte]) = {
    val len = in.readInt() - 4
    val payload = new Array[Byte](len)
    in.readFully(payload)
    (msgType, payload)
  }

  private def pgError(payload: Array[Byte]): java.sql.SQLException =
    PgWireConnection.pgError(payload)

  /** RFC 5929 tls-server-end-point channel-binding data: a hash of the
    * server's end-entity certificate — SHA-256 unless the certificate's
    * own signature algorithm uses a stronger SHA-2 (MD5/SHA-1 map UP to
    * SHA-256 per the RFC). Binding the SCRAM proof to this hash means the
    * proof only verifies on the TLS session that actually terminates at
    * the certificate holder — a relaying MITM (even one that knows no
    * password and just forwards bytes between two TLS sessions) presents
    * a different cert hash and the proof dies. */
  private def tlsServerEndPoint(): Array[Byte] = socket match {
    case s: javax.net.ssl.SSLSocket =>
      val cert = s.getSession.getPeerCertificates()(0)
        .asInstanceOf[java.security.cert.X509Certificate]
      val alg = PgWireConnection.certHashAlg(
        cert.getSigAlgName, cert.getSigAlgParams)
      java.security.MessageDigest.getInstance(alg).digest(cert.getEncoded)
    case _ => throw new IllegalStateException(
      "pgwire: channel binding requested on a non-TLS socket")
  }

  /** SASL mechanism the handshake negotiated (None = trust/cleartext). */
  @volatile var saslMechanismUsed: Option[String] = None

  /** Auth + parameter burst until ReadyForQuery. */
  def handshake(): Unit = {
    sendStartup()
    var scram: ScramClient = null
    def pwd: String = password.getOrElse(
      throw new IllegalStateException("pgwire: server wants a password, none configured"))
    var ready = false
    while (!ready) receive() match {
      case ('R', p) =>
        val buf = ByteBuffer.wrap(p)
        buf.getInt match {
          case 0 => () // AuthenticationOk
          case 3 => // CleartextPassword
            val b = new ByteArrayOutputStream()
            cstr(b, pwd)
            send('p', b.toByteArray)
          case 10 => // AuthenticationSASL: cstring mechanism list
            val mechs = Iterator.continually {
              val m = new ByteArrayOutputStream()
              var c = buf.get()
              while (c != 0) { m.write(c); c = buf.get() }
              new String(m.toByteArray, UTF_8)
            }.takeWhile(_.nonEmpty).toList
            // Mechanism + gs2 selection (RFC 5802 §6 downgrade protection):
            // on TLS prefer -PLUS with the server-cert binding; a TLS
            // session where the server "didn't offer" -PLUS gets gs2 'y',
            // so a MITM stripping the -PLUS advertisement is caught by the
            // real server; plaintext sends 'n' (no channel to bind).
            val mech =
              if (ssl && mechs.contains("SCRAM-SHA-256-PLUS")) "SCRAM-SHA-256-PLUS"
              else if (mechs.contains("SCRAM-SHA-256")) "SCRAM-SHA-256"
              else throw new UnsupportedOperationException(
                s"pgwire: no shared SASL mechanism (server offers ${mechs.mkString(",")})")
            saslMechanismUsed = Some(mech)
            scram =
              if (mech == "SCRAM-SHA-256-PLUS")
                new ScramClient(pwd, gs2Header = "p=tls-server-end-point,,",
                  cbData = tlsServerEndPoint())
              else new ScramClient(pwd, gs2Header = if (ssl) "y,," else "n,,")
            val b = new ByteArrayOutputStream()
            cstr(b, mech)
            val first = scram.clientFirstMessage.getBytes(UTF_8)
            b.write(ByteBuffer.allocate(4).putInt(first.length).array())
            b.write(first)
            send('p', b.toByteArray)
          case 11 => // AuthenticationSASLContinue: server-first-message
            val serverFirst = new String(p, 4, p.length - 4, UTF_8)
            val finalMsg = scram.clientFinalMessage(serverFirst).getBytes(UTF_8)
            send('p', finalMsg)
          case 12 => // AuthenticationSASLFinal: v=<server signature>
            scram.verifyServerFinal(new String(p, 4, p.length - 4, UTF_8))
          case other =>
            throw new UnsupportedOperationException(
              s"pgwire: unsupported auth request $other (only trust/cleartext/SCRAM-SHA-256)")
        }
      case ('Z', _) => ready = true
      case ('E', p) => throw pgError(p)
      case ('S' | 'K' | 'N', _) => () // ParameterStatus/BackendKeyData/Notice
      case (t, _) => throw new IllegalStateException(s"pgwire: unexpected '$t' during startup")
    }
  }

  /** Simple-query protocol: rows as text (null → null), errors thrown AFTER
    * the backend reaches ReadyForQuery so the connection stays usable. */
  def simpleQuery(sql: String): Vector[Vector[String]] =
    simpleQueryWithCols(sql)._2

  /** Like [[simpleQuery]] but also returns the column names of the (last)
    * RowDescription — what a schema-carrying snapshot read needs. */
  def simpleQueryWithCols(sql: String): (Vector[String], Vector[Vector[String]]) = {
    sendQuery(sql)
    val rows = Vector.newBuilder[Vector[String]]
    var cols: Vector[String] = Vector.empty
    var err: java.sql.SQLException = null
    var ready = false
    while (!ready) receive() match {
      case ('D', p) =>
        val buf = ByteBuffer.wrap(p)
        val n = buf.getShort.toInt
        rows += Vector.tabulate(n) { _ =>
          val len = buf.getInt
          if (len < 0) null
          else { val b = new Array[Byte](len); buf.get(b); new String(b, UTF_8) }
        }
      case ('T', p) =>
        // RowDescription: int16 nfields, then per field a cstring name +
        // 18 bytes of table/type metadata this text-mode client skips
        val buf = ByteBuffer.wrap(p)
        val n = buf.getShort.toInt
        cols = Vector.fill(n) {
          // Accumulate the cstring's BYTES and decode once as UTF-8 —
          // per-byte toChar would mangle multi-byte identifiers, and the
          // snapshot reader keys row maps by these names.
          val name = new ByteArrayOutputStream()
          var b = buf.get()
          while (b != 0) { name.write(b); b = buf.get() }
          buf.position(buf.position() + 18)
          new String(name.toByteArray, UTF_8)
        }
      case ('E', p) => err = pgError(p)
      case ('Z', _) => ready = true
      case ('C' | 'I' | 'N' | 'S', _) => ()
      case (t, _) => throw new IllegalStateException(s"pgwire: unexpected '$t' in query response")
    }
    if (err != null) throw err
    (cols, rows.result())
  }

  /** Issue a command expected to flip the session into CopyBoth mode
    * (START_REPLICATION). Consumes up to the CopyBothResponse. */
  def enterCopyBoth(sql: String): Unit = {
    sendQuery(sql)
    var entered = false
    while (!entered) receive() match {
      case ('W', _) => entered = true
      case ('E', p) => throw pgError(p)
      case ('N' | 'S', _) => ()
      case (t, _) => throw new IllegalStateException(s"pgwire: unexpected '$t' before CopyBoth")
    }
  }

  def sendCopyData(payload: Array[Byte]): Unit = send('d', payload)

  override def close(): Unit = {
    try { send('X', Array.emptyByteArray) } catch { case _: Throwable => () }
    try socket.close() catch { case _: Throwable => () }
  }
}

object PgWireConnection {
  /** ErrorResponse payload → SQLException carrying the server's SQLSTATE in
    * the standard `getSQLState` slot, so callers (e.g. the reconnect policy)
    * can classify retryable vs terminal without string-matching messages.
    * Fields are (code byte, cstring) pairs until a 0 terminator; a
    * truncated/malformed payload ends the loop with whatever parsed so far
    * rather than masking the server's error with an index exception. */
  private[sources] def pgError(payload: Array[Byte]): java.sql.SQLException = {
    val fields = scala.collection.mutable.Map[Char, String]()
    var i = 0
    while (i < payload.length && payload(i) != 0) {
      val code = payload(i).toChar
      val end = payload.indexOf(0.toByte, i + 1)
      if (end < 0) {
        fields(code) = new String(payload, i + 1, payload.length - i - 1, UTF_8)
        i = payload.length
      } else {
        fields(code) = new String(payload, i + 1, end - i - 1, UTF_8)
        i = end + 1
      }
    }
    val text = fields.getOrElse('S', "ERROR") + ": " +
      fields.getOrElse('M', "unknown") +
      fields.get('C').map(c => s" (SQLSTATE $c)").getOrElse("")
    new java.sql.SQLException("pgwire: " + text, fields.get('C').orNull)
  }

  /** RFC 5929 tls-server-end-point hash-algorithm selection: the hash of the
    * certificate's own signature algorithm, with ONLY MD5/SHA-1 mapped UP to
    * SHA-256 — every other algorithm hashes as itself (what PostgreSQL's
    * `be_tls_get_certificate_hash` computes on its side, so a SHA-224 cert
    * must bind with SHA-224, not SHA-256). For classic `SHA384withRSA`-style
    * names the hash is in the name; RSASSA-PSS certificates instead report
    * the bare algorithm (`RSASSA-PSS`) and carry the hash inside the
    * DER-encoded AlgorithmParameters (`sigAlgParams` → PSSParameterSpec),
    * so a name-substring match alone would bind a PSS/SHA-384 cert to
    * SHA-256 and the -PLUS proof would fail verification. Unresolvable
    * parameters fall back to SHA-256 — RFC 5929's floor, and with a real
    * PSS cert the worst case is an auth failure the caller can retry
    * without -PLUS. Algorithms that carry NO digest the server could match
    * (Ed25519/Ed448 — OpenSSL's OBJ_find_sigid_algs finds none, so
    * PostgreSQL's be_tls_get_certificate_hash itself errors out) and any
    * name we don't recognize also floor to SHA-256, but the fallback is
    * LOGGED so a binding failure against such a cert is diagnosable rather
    * than a silent auth mismatch. */
  private[sources] def certHashAlg(sigAlgName: String,
      sigAlgParams: Array[Byte]): String = {
    // dash-stripped matching so "SHA384withRSA", "SHA-384" (PSS parameter
    // spellings) and provider variants like "SHA-384WITHRSA" all resolve.
    // SHA3 families are matched FIRST: the server digests with the cert's
    // own algorithm, so a SHA3-256 cert must bind with SHA3-256 (a
    // MessageDigest Java 17 ships), not the SHA-2 floor.
    def byName(n: String): String = {
      val c = n.toUpperCase.replace("-", "")
      if (c.contains("SHA3224")) "SHA3-224"
      else if (c.contains("SHA3256")) "SHA3-256"
      else if (c.contains("SHA3384")) "SHA3-384"
      else if (c.contains("SHA3512")) "SHA3-512"
      // the truncated SHA-512/t family must match BEFORE the bare SHA512
      // substring, or a SHA-512/256 cert would silently bind with SHA-512
      else if (c.contains("SHA512/224")) "SHA-512/224"
      else if (c.contains("SHA512/256")) "SHA-512/256"
      else if (c.contains("SHA384")) "SHA-384"
      else if (c.contains("SHA512")) "SHA-512"
      else if (c.contains("SHA224")) "SHA-224"
      else {
        if (!c.contains("SHA256") && !c.contains("SHA1") && !c.contains("MD5"))
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn("tls-server-end-point: unrecognized certificate signature " +
              s"algorithm '$n' — falling back to SHA-256 (RFC 5929 floor); " +
              "if the server digests with a different algorithm, " +
              "SCRAM-PLUS channel binding will fail")
        "SHA-256" // MD5/SHA-1 map up per the RFC; SHA-256 is itself
      }
    }
    def fromPssParams: String =
      try {
        val ap = java.security.AlgorithmParameters.getInstance("RSASSA-PSS")
        ap.init(sigAlgParams)
        byName(ap.getParameterSpec(classOf[java.security.spec.PSSParameterSpec])
          .getDigestAlgorithm)
      } catch {
        case e: Exception =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn("tls-server-end-point: could not resolve RSASSA-PSS " +
              s"parameters (${e.getClass.getSimpleName}) — falling back to " +
              "SHA-256 (RFC 5929 floor)")
          "SHA-256"
      }
    if (sigAlgName.toUpperCase.contains("PSS")) fromPssParams
    else byName(sigAlgName)
  }
}

/** SCRAM-SHA-256 client state machine (RFC 5802 mechanics, RFC 7677 hash
  * suite) — the PG ≥ 14 default password auth. One instance per handshake:
  * `clientFirstMessage` → (server-first) → `clientFinalMessage` →
  * (server-final) → `verifyServerFinal`, which authenticates the SERVER to
  * us via the v= signature before any query is trusted. PG ignores the
  * SCRAM-layer username (the startup-packet user wins), so `n=` is sent
  * empty, as libpq does; channel binding is not offered (`n,,` gs2 header —
  * this client never speaks TLS, so there is no channel to bind).
  *
  * The password is NFKC-normalized (the interoperable core of SASLprep;
  * RFC 4013's prohibited-table checks are the server's to enforce).
  * `nonceOverride`/`username` exist for the RFC 7677 §3 test vector. */
private[sources] final class ScramClient(password: String,
    username: String = "", nonceOverride: Option[String] = None,
    // gs2 header + channel-binding data (RFC 5802 §6 / RFC 5929):
    //   "n,,"                        — binding not supported by this channel
    //   "y,,"                        — supported, server didn't offer -PLUS
    //   "p=tls-server-end-point,,"   — bound; cbData = the server cert hash
    gs2Header: String = "n,,", cbData: Array[Byte] = Array.emptyByteArray) {
  import javax.crypto.Mac
  import javax.crypto.spec.{PBEKeySpec, SecretKeySpec}

  private val b64e = java.util.Base64.getEncoder
  private val b64d = java.util.Base64.getDecoder
  private val clientNonce = nonceOverride.getOrElse {
    val raw = new Array[Byte](18)
    new java.security.SecureRandom().nextBytes(raw)
    b64e.encodeToString(raw)
  }
  private val clientFirstBare = s"n=$username,r=$clientNonce"
  private var expectedServerSig: Array[Byte] = _

  val clientFirstMessage: String = gs2Header + clientFirstBare

  /** c= attribute: base64(gs2-header-bytes ++ channel-binding-data) — for
    * the unbound "n,," header with no cb data this is the classic "biws". */
  private val cAttr: String =
    b64e.encodeToString(gs2Header.getBytes(UTF_8) ++ cbData)

  private def hmac(key: Array[Byte], msg: String): Array[Byte] = {
    val m = Mac.getInstance("HmacSHA256")
    m.init(new SecretKeySpec(key, "HmacSHA256"))
    m.doFinal(msg.getBytes(UTF_8))
  }

  def clientFinalMessage(serverFirst: String): String = {
    val attrs = serverFirst.split(",").map(a => a.charAt(0) -> a.drop(2)).toMap
    val serverNonce = attrs('r')
    if (!serverNonce.startsWith(clientNonce))
      throw new SecurityException("pgwire scram: server nonce does not extend client nonce")
    val salt = b64d.decode(attrs('s'))
    val iterations = attrs('i').toInt
    val normalized = java.text.Normalizer
      .normalize(password, java.text.Normalizer.Form.NFKC)
    val spec = new PBEKeySpec(normalized.toCharArray, salt, iterations, 256)
    val saltedPassword = javax.crypto.SecretKeyFactory
      .getInstance("PBKDF2WithHmacSHA256").generateSecret(spec).getEncoded
    val clientKey = hmac(saltedPassword, "Client Key")
    val storedKey = java.security.MessageDigest.getInstance("SHA-256").digest(clientKey)
    val withoutProof = s"c=$cAttr,r=$serverNonce"
    val authMessage = s"$clientFirstBare,$serverFirst,$withoutProof"
    val clientSig = hmac(storedKey, authMessage)
    val proof = clientKey.zip(clientSig).map { case (a, b) => (a ^ b).toByte }
    expectedServerSig = hmac(hmac(saltedPassword, "Server Key"), authMessage)
    s"$withoutProof,p=${b64e.encodeToString(proof)}"
  }

  def verifyServerFinal(serverFinal: String): Unit = {
    val v = serverFinal.split(",").collectFirst { case a if a.startsWith("v=") => a.drop(2) }
      .getOrElse(throw new SecurityException("pgwire scram: server-final carries no v= signature"))
    if (!java.security.MessageDigest.isEqual(b64d.decode(v), expectedServerSig))
      throw new SecurityException("pgwire scram: server signature mismatch")
  }
}

/** [[ReplicationConduit]] over [[PgWireConnection]] — the live production
  * face of S1/K2 with zero driver dependency. Speaks the replication
  * sub-protocol: XLogData ('w') frames carry raw pgoutput payloads to the
  * decoder untouched; primary keepalives ('k') are answered when the server
  * requests a reply; `setFlushedLSN` sends a standby status update
  * (received/flushed/applied + clock) — the WAL-reclaim feedback the
  * reference delegates to psycopg2's `send_feedback` (reader.py:116-123).
  *
  * Keepalive discipline: a status update goes out (1) immediately on flush
  * feedback, (2) whenever the server sets reply-requested, and (3) from an
  * idle daemon at `statusIntervalMs` so a quiet stream between micro-batches
  * never trips `wal_sender_timeout`. */
final class PgWireConduit(
    host: String, port: Int, db: String, user: String,
    password: Option[String], slot: String, publication: String,
    createSlot: Boolean, temporarySlot: Boolean,
    statusIntervalMs: Long = 10000L,
    // pgoutput protocol surface (public docs, protocol-logical-replication):
    // proto_version 2 + streaming for in-progress transaction streaming
    // (PG 14), proto_version 3 + twoPhase for prepared transactions (PG 15;
    // the slot itself must also be created TWO_PHASE).
    protoVersion: Int = 1,
    streaming: Boolean = false,
    twoPhase: Boolean = false,
    messages: Boolean = false,
    // binary 'true' (PG 14+): ship column values via the type send
    // functions instead of text — cheaper on the server and smaller on the
    // wire for numeric/timestamp-heavy rows; decoded back to canonical
    // text at the image boundary (PgBinary), so downstream is unchanged
    binary: Boolean = false,
    ssl: Boolean = false,
    sslRootCert: Option[String] = None,
    sslVerifyFull: Boolean = false)
  extends ReplicationConduit {

  private var conn: PgWireConnection = _
  @volatile private var received = 0L
  /** Confirmation ledger — consumer flush vs keepalive auto-confirm kept in
    * SEPARATE fields so an auto-advanced position can never satisfy its own
    * guard (the r5-advice loss scenario; see [[AckLedger]]). */
  private[sources] val ack = new AckLedger
  @volatile private var running = false
  private var keepalive: Thread = _

  /** µs since the PG epoch (2000-01-01), the clock field of status/XLog
    * messages (public protocol docs, protocol-replication). */
  private def pgClockMicros(): Long =
    (System.currentTimeMillis() - 946684800000L) * 1000L

  private def sendStatus(replyRequested: Boolean): Unit = {
    val c = conn
    if (c != null) {
      val fl = ack.reported
      val b = ByteBuffer.allocate(34)
      b.put('r'.toByte)
      b.putLong(received)
      b.putLong(fl)
      b.putLong(fl) // applied tracks flushed: we apply before we ack
      b.putLong(pgClockMicros())
      b.put(if (replyRequested) 1.toByte else 0.toByte)
      c.sendCopyData(b.array())
    }
  }

  /** `START_REPLICATION` resuming after `afterLsn`. The publication travels
    * as a string literal (pgoutput parses it as its publication_names
    * list), the slot as a quoted identifier. */
  private[sources] def startReplicationCommand(afterLsn: Long): String = {
    val opts = Seq(
      Some(s"proto_version '$protoVersion'"),
      Some(s"publication_names ${PgCatalog.sqlLiteral(publication)}"),
      if (streaming) Some("streaming 'on'") else None,
      if (twoPhase) Some("two_phase 'true'") else None,
      if (messages) Some("messages 'true'") else None,
      if (binary) Some("binary 'true'") else None).flatten.mkString(", ")
    s"START_REPLICATION SLOT ${PgCatalog.quoteIdent(slot)} LOGICAL ${PgLsn.format(afterLsn)} ($opts)"
  }

  override def start(afterLsn: Long): Unit = {
    conn = new PgWireConnection(host, port, db, user, password,
      replication = true, ssl = ssl,
      sslRootCert = sslRootCert, sslVerifyFull = sslVerifyFull)
    conn.handshake()
    // pgoutput renders values through the type output functions under THIS
    // session's GUCs: pin bytea to the hex form the typed views decode, so
    // a cluster-level `bytea_output = escape` override never reaches the
    // decoder (a database-connected walsender accepts plain SQL; tolerate
    // refusal — the typed view then NULLs-and-flags escape text instead)
    try conn.simpleQuery("SET bytea_output = hex")
    catch { case _: java.sql.SQLException => () }
    // …and pin the session timezone so timestamptz TEXT output is always
    // the +00 form regardless of the cluster's timezone — which is also
    // what makes binary mode's fixed UTC render (PgBinary timestampText)
    // and text mode agree on a non-UTC server (live-pinned by the binary
    // transfer leg's Berlin sub-case)
    try conn.simpleQuery("SET timezone = 'UTC'")
    catch { case _: java.sql.SQLException => () }
    if (createSlot) {
      try conn.simpleQuery(PgWireConduit.createSlotCommand(slot, temporarySlot, twoPhase))
      catch {
        case e: java.sql.SQLException if e.getMessage.contains("42710") => () // already exists
      }
    }
    conn.enterCopyBoth(startReplicationCommand(afterLsn))
    // The resume point is consumer ground truth by definition: the caller
    // restarts from its durable checkpoint.
    ack.onConsumerFlush(afterLsn)
    running = true
    keepalive = new Thread(() => {
      while (running) {
        try Thread.sleep(statusIntervalMs) catch { case _: InterruptedException => () }
        if (running)
          try sendStatus(replyRequested = false) catch { case _: Throwable => () }
      }
    }, "pgwire-keepalive")
    keepalive.setDaemon(true)
    keepalive.start()
  }

  /** Non-blocking poll (the `readPending` contract): drains keepalives and
    * returns the next XLogData frame, or None if nothing arrives within the
    * poll window. */
  override def read(): Option[(Long, Array[Byte])] = {
    var result: Option[(Long, Array[Byte])] = None
    var continue = true
    while (continue) {
      conn.receiveTimeout(10) match {
        case None => continue = false
        case Some(('d', p)) =>
          p(0).toChar match {
            case 'w' =>
              val buf = ByteBuffer.wrap(p)
              buf.get() // 'w'
              val walStart = buf.getLong
              val walEnd = buf.getLong
              buf.getLong // server clock
              val bytes = new Array[Byte](buf.remaining())
              buf.get(bytes)
              received = math.max(received, math.max(walStart, walEnd))
              ack.onData(walStart)
              result = Some((walStart, bytes))
              continue = false
            case 'k' =>
              val buf = ByteBuffer.wrap(p)
              buf.get() // 'k'
              val walEnd = buf.getLong
              buf.getLong // clock
              val replyRequested = buf.get() == 1
              received = math.max(received, walEnd)
              // Shutdown-unblock discipline: at fast shutdown the logical
              // walsender will not exit until the client CONFIRMS everything
              // sent (walsender.c WalSndDone compares sentPtr to the
              // standby's reported flush), and a flush pinned one byte
              // below the last commit never reaches a keepalive's sentPtr —
              // the server would wait on us forever. When every DELIVERED
              // data frame is already covered by the CONSUMER's flush
              // point, confirming the keepalive's walEnd is safe: sentPtr
              // only advances past a commit record's end AFTER its whole
              // transaction entered the stream ahead of this keepalive
              // (walsender processes a record fully before moving sentPtr),
              // so in-order reading guarantees nothing event-bearing past
              // lastDataWal hides below walEnd. A consumer that is
              // legitimately behind keeps the shutdown waiting — that's
              // the at-least-once contract, not a hang. The
              // consumer-vs-auto split lives in [[AckLedger]].
              ack.onKeepalive(walEnd)
              if (replyRequested) sendStatus(replyRequested = false)
            // keep polling: a keepalive is not data
            case other =>
              throw new IllegalStateException(s"pgwire: unexpected copy sub-message '$other'")
          }
        case Some(('E', p)) =>
          throw PgWireConnection.pgError(p)
        case Some(('N', _)) => () // notice — keep polling
        case Some(('c', _)) | Some(('C', _)) | Some(('Z', _)) =>
          // Graceful end of the COPY stream — a cleanly shutting-down
          // walsender (pg_ctl stop/restart) sends CopyDone once the client
          // has confirmed sentPtr, then CommandComplete/ReadyForQuery.
          // Acknowledge the CopyDone and surface end-of-stream as the same
          // RETRYABLE error class a severed socket produces: the consumer's
          // reconnect loop resumes from the flushed LSN either way.
          try conn.send('c', Array.emptyByteArray) catch { case _: Throwable => () }
          throw new java.io.EOFException(
            "pgwire: replication stream closed by server (clean walsender shutdown)")
        case Some((t, _)) =>
          throw new IllegalStateException(s"pgwire: unexpected '$t' in copy stream")
      }
    }
    result
  }

  override def setFlushedLSN(lsn: Long): Unit = {
    ack.onConsumerFlush(lsn)
    sendStatus(replyRequested = false)
  }

  override def walPositions: Option[(Long, Long)] = Some((received, ack.reported))

  override def close(): Unit = {
    running = false
    if (keepalive != null) keepalive.interrupt()
    if (conn != null) conn.close()
  }
}

/** WAL-confirmation ledger for [[PgWireConduit]] — the one place that decides
  * what flush position may be reported to the server, factored out so the
  * loss scenario is spec-pinned offline ([[graft.sources.AckLedgerSpec]]).
  *
  * Two flush inputs with different trust levels:
  *  - CONSUMER flush ([[onConsumerFlush]]): sent strictly after Spark's
  *    durable batch commit — the K2 at-least-once ground truth.
  *  - Keepalive AUTO-CONFIRM ([[onKeepalive]]): the shutdown-unblock path.
  *    Allowed only when the CONSUMER's flush already covers every delivered
  *    data frame (`consumerFlushed >= lastDataWal - 1`; the one-byte slack is
  *    the offset convention — a no-event commit marker lifts the consumer
  *    watermark to its position MINUS ONE, because the next transaction's
  *    first change can be reported AT a commit record's position).
  *
  * The guard reads `consumerFlushed`, NEVER the auto-advanced value. Letting
  * a previous auto-confirm satisfy the guard is a ratchet that acks WAL past
  * an unprocessed transaction: a keepalive whose sentPtr lands exactly at the
  * next commit record's walStart (WAL records are contiguous — common)
  * auto-advances to that position; the commit frame then arrives (events
  * buffered, not yet checkpointed) and the next keepalive would see
  * `flushed == lastDataWal`, pushing confirmed_flush past the commit's end —
  * on restart the server skips the transaction (end_lsn <= confirmed_flush)
  * and its events are silently lost. With the split, that second keepalive
  * fails the guard until the consumer actually checkpoints the transaction. */
final class AckLedger {
  @volatile private var consumerFlushed = 0L
  @volatile private var autoConfirmed = 0L
  /** Max walStart of any DATA ('w') frame handed to the consumer. */
  @volatile private var lastDataWal = 0L

  def onData(walStart: Long): Unit =
    lastDataWal = math.max(lastDataWal, walStart)

  def onConsumerFlush(lsn: Long): Unit =
    consumerFlushed = math.max(consumerFlushed, lsn)

  /** A primary-keepalive's walEnd (sentPtr). Returns true iff the reported
    * flush advanced (auto-confirm fired). */
  def onKeepalive(walEnd: Long): Boolean =
    if (walEnd > reported && consumerFlushed >= lastDataWal - 1) {
      autoConfirmed = math.max(autoConfirmed, walEnd)
      true
    } else false

  /** The flush position standby-status messages report. */
  def reported: Long = math.max(consumerFlushed, autoConfirmed)
}

/** Driverless consistent-snapshot initial sync (the S2 backfill half):
  * CREATE_REPLICATION_SLOT exports a snapshot name alongside the slot's
  * consistent point; any number of OTHER connections can pin transactions
  * to that snapshot (`SET
  * TRANSACTION SNAPSHOT`) — the mechanism parallel pg_dump uses — so the
  * base-table read distributes across executors in pk-range chunks while
  * the slot guarantees the tail starts exactly where every chunk's view
  * ends: no gap, no overlap (public docs: logicaldecoding-snapshot,
  * protocol-replication CREATE_REPLICATION_SLOT).
  *
  * Rows come back as wire-text maps (column name → text value), the same
  * currency the CDC envelope uses, so `TypedView.ofAfter` types snapshot
  * rows and streamed rows through the IDENTICAL machinery. */
object PgWireSnapshot {

  /** Create a (persistent) slot and return (consistentPoint, snapshotName).
    * The returned connection must stay OPEN, idle, until every snapshot
    * chunk transaction has begun — closing it invalidates the export. */
  def createSlotWithSnapshot(conn: PgWireConnection, slot: String,
      twoPhase: Boolean = false): (Long, String) = {
    val row = conn.simpleQuery(
      PgWireConduit.createSlotCommand(slot, temporary = false, twoPhase)).head
    // columns: slot_name, consistent_point, snapshot_name, output_plugin
    (PgLsn.parse(row(1)), row(2))
  }

  /** Distributed snapshot read: pk-range chunks, one wire connection per
    * partition, every chunk pinned to the SAME exported snapshot. Returns
    * (pk, after-map) rows; type through `TypedView.ofAfter`. */
  def snapshotEvents(spark: org.apache.spark.sql.SparkSession,
      host: String, port: Int, db: String, user: String, password: Option[String],
      snapshotName: String, table: String, pkCol: String,
      nChunks: Int, ssl: Boolean = false, sslRootCert: Option[String] = None,
      sslVerifyFull: Boolean = false): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def connect() = new PgWireConnection(host, port, db, user, password,
      ssl = ssl, sslRootCert = sslRootCert, sslVerifyFull = sslVerifyFull)
    val qTable = PgCatalog.quoteQualified(table)
    val qPk = PgCatalog.quoteIdent(pkCol)
    val snapLit = PgCatalog.sqlLiteral(snapshotName)
    // pin the same output-format GUCs as the walsender session (hex bytea,
    // UTC timestamptz text) so backfill rows and tail rows render
    // identically on any cluster configuration
    def pinned(c: PgWireConnection, sql: String) = c.simpleQueryWithCols(
      "SET bytea_output = hex; SET timezone = 'UTC'; " +
        "BEGIN TRANSACTION ISOLATION LEVEL REPEATABLE READ; " +
        s"SET TRANSACTION SNAPSHOT $snapLit; " + sql + "; COMMIT")
    // driver: pk bounds under the snapshot → chunk ranges
    val bounds = {
      val c = connect()
      try {
        c.handshake()
        pinned(c, s"SELECT min($qPk), max($qPk) FROM $qTable")._2.head
      } finally c.close()
    }
    if (bounds(0) == null) return spark.emptyDataset[(String, Map[String, String])]
      .toDF("pk", "after")
    val (lo, hi) = (bounds(0).toLong, bounds(1).toLong)
    val step = math.max(1L, (hi - lo) / nChunks + 1)
    val ranges = (0 until nChunks).map(i => (lo + i * step, lo + (i + 1) * step))
      .filter { case (a, _) => a <= hi }
    spark.createDataset(ranges).repartition(ranges.size)
      .mapPartitions { it =>
        it.flatMap { case (a, b) =>
          val c = connect()
          try {
            c.handshake()
            val (cols, rows) = pinned(c,
              s"SELECT * FROM $qTable WHERE $qPk >= $a AND $qPk < $b")
            rows.map { r =>
              val m = cols.zip(r).toMap
              (m(pkCol), m)
            }
          } finally c.close()
        }
      }
      .toDF("pk", "after")
  }

  /** DBLog-style chunked re-snapshot read (the production form of the
    * fixture `ordersSnapshotChunksFailover`): pk-range chunks, one wire
    * connection per task, each chunk BRACKETED by `pg_current_wal_lsn()`
    * samples — lo before its SELECT, hi after — instead of pinned to one
    * exported snapshot. That is exactly the shape
    * `Streams.dblogBackfillSink` consumes: a chunk row raced by tail
    * events inside [lo, hi] loses to the WAL (the collision rule), so the
    * merge is correct with NO global snapshot, no long-lived transaction,
    * and no table lock — chunk reads and the replacement slot's tail make
    * progress together (DBLog; Debezium incremental snapshots run the
    * same way). Call AFTER the replacement slot exists: every change is
    * then either in a chunk or in the tail — no second gap.
    *
    * Output: (chunk_id, lo_lsn, hi_lsn, key, after) — key/after as
    * text maps rendered under the same GUC pinning as the walsender
    * session (hex bytea, UTC timestamptz). `pkCol` is the numeric RANGE
    * column (chunk planning); `keyCols` is the relation's FULL primary
    * key — the emitted key map must carry every key column or the
    * backfill merge's collision anti-join (equality over ALL key columns)
    * can never match on a composite-pk table and raced chunk rows would
    * silently resurrect stale values. Empty `keyCols` defaults to just
    * `pkCol`. An all-dead pk range yields no rows, so callers count
    * `distinct chunk_id` for the applied-chunk total. Scale: ranges are
    * planned from one min/max probe; each task reads one bounded slice —
    * O(table / nChunks) per task, fully parallel, the same layout a
    * 1000-executor backfill wants. */
  def dblogChunks(spark: org.apache.spark.sql.SparkSession,
      host: String, port: Int, db: String, user: String, password: Option[String],
      table: String, pkCol: String, nChunks: Int,
      keyCols: Seq[String] = Nil,
      ssl: Boolean = false, sslRootCert: Option[String] = None,
      sslVerifyFull: Boolean = false): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def connect() = {
      val c = new PgWireConnection(host, port, db, user, password,
        ssl = ssl, sslRootCert = sslRootCert, sslVerifyFull = sslVerifyFull)
      c.handshake()
      c.simpleQuery("SET bytea_output = hex; SET timezone = 'UTC'")
      c
    }
    val qTable = PgCatalog.quoteQualified(table)
    val qPk = PgCatalog.quoteIdent(pkCol)
    def walLsn(c: PgWireConnection): Long =
      PgLsn.parse(c.simpleQuery("SELECT pg_current_wal_lsn()").head.head)
    val bounds = {
      val c = connect()
      try c.simpleQuery(s"SELECT min($qPk), max($qPk) FROM $qTable").head
      finally c.close()
    }
    if (bounds(0) == null)
      return spark.emptyDataset[(Long, Long, Long, Map[String, String], Map[String, String])]
        .toDF("chunk_id", "lo_lsn", "hi_lsn", "key", "after")
    val (lo, hi) = (bounds(0).toLong, bounds(1).toLong)
    val step = math.max(1L, (hi - lo) / nChunks + 1)
    val ranges = (0 until nChunks).map(i => (i.toLong, lo + i * step, lo + (i + 1) * step))
      .filter { case (_, a, _) => a <= hi }
    val keyColumns = if (keyCols.nonEmpty) keyCols else Seq(pkCol)
    spark.createDataset(ranges).repartition(ranges.size)
      .mapPartitions { it =>
        it.flatMap { case (id, a, b) =>
          val c = connect()
          try {
            val chunkLo = walLsn(c)
            val (cols, rows) = c.simpleQueryWithCols(
              s"SELECT * FROM $qTable WHERE $qPk >= $a AND $qPk < $b")
            val chunkHi = walLsn(c)
            rows.map { r =>
              val m = cols.zip(r).toMap
              (id, chunkLo, chunkHi, keyColumns.map(k => k -> m(k)).toMap, m)
            }
          } finally c.close()
        }
      }
      .toDF("chunk_id", "lo_lsn", "hi_lsn", "key", "after")
  }
}

object PgWireConduit {
  /** `CREATE_REPLICATION_SLOT` for a pgoutput slot, the name quoted. */
  def createSlotCommand(slot: String, temporary: Boolean, twoPhase: Boolean): String = {
    val kind = if (temporary) "TEMPORARY LOGICAL" else "LOGICAL"
    val slotOpts = if (twoPhase) " (TWO_PHASE)" else ""
    s"CREATE_REPLICATION_SLOT ${PgCatalog.quoteIdent(slot)} $kind pgoutput$slotOpts"
  }

  /** Options-driven constructor for the DSv2 source (`producer=pgwire`). */
  def fromOptions(opts: Map[String, String]): PgWireConduit = {
    // libpq sslmode parity: disable (default) | require | verify-ca |
    // verify-full; a bare ssl=true equals require. verify-* needs
    // sslRootCert; verify-full adds JSSE hostname verification.
    val sslMode = opts.getOrElse("sslMode",
      if (opts.get("ssl").exists(_.toBoolean)) "require" else "disable")
    val rootCert = opts.get("sslRootCert")
    if ((sslMode == "verify-ca" || sslMode == "verify-full") && rootCert.isEmpty)
      throw new IllegalArgumentException(
        "pgcdc: sslMode=verify-ca/verify-full requires option 'sslRootCert'")
    new PgWireConduit(
      opts.getOrElse("host", "127.0.0.1"),
      opts.get("port").map(_.toInt).getOrElse(5432),
      opts.getOrElse("database", opts.getOrElse("dbname", "postgres")),
      opts.getOrElse("user", "postgres"),
      opts.get("password"),
      opts("slot"),
      opts("publication"),
      createSlot = opts.get("createSlot").forall(_.toBoolean),
      temporarySlot = opts.get("temporarySlot").exists(_.toBoolean),
      statusIntervalMs = opts.get("statusIntervalMs").map(_.toLong).getOrElse(10000L),
      protoVersion = opts.get("protoVersion").map(_.toInt).getOrElse(1),
      streaming = opts.get("streaming").exists(_.toBoolean),
      twoPhase = opts.get("twoPhase").exists(_.toBoolean),
      messages = opts.get("messages").exists(_.toBoolean),
      binary = opts.get("binary").exists(_.toBoolean),
      ssl = sslMode != "disable",
      sslRootCert = rootCert,
      sslVerifyFull = sslMode == "verify-full")
  }
}
