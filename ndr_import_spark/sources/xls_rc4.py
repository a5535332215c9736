"""Password decryption for legacy BIFF8 .xls workbook streams — clean-room
from the PUBLIC specs [MS-XLS] 2.2.10 (FilePass / stream obfuscation) and
[MS-OFFCRYPTO] 2.3.6 (Office binary RC4) / 2.3.5 (RC4 CryptoAPI).

Pre-2007 Excel password protection encrypts the Workbook stream in place:
record headers stay plaintext, the payload bytes are RC4-encrypted with a
key re-derived every 1024 bytes of ABSOLUTE stream position, and a handful
of records/fields are written plaintext while the keystream still advances
over them (BOF, FilePass, InterfaceHdr families, and BoundSheet8's
lbPlyPos stream-offset field — Excel must seek before it can decrypt).

Both public key-derivation schemes are implemented, selected by the
FilePass version fields:

* **standard RC4** (vMajor=1, vMinor=1): MD5 ladder —
  ``Key5 = MD5((MD5(pw_utf16)[:5] + salt) * 16)[:5]``,
  ``block_key(b) = MD5(Key5 + LE32(b))``.
* **RC4 CryptoAPI** (vMajor 2..4, vMinor=2): SHA-1 ladder —
  ``H0 = SHA1(salt + pw_utf16)``, ``block_key(b) = SHA1(H0 + LE32(b))``
  truncated to the header's key size (40-bit keys zero-padded to 128 per
  the CryptoAPI convention).

Pure stdlib (hashlib + struct): no `cryptography` dependency, unlike the
OOXML AES path. The reference reads these through roo/spreadsheet's Ruby
port of the same public algorithms (lib/ndr_import/file/excel.rb:55-77).

The default Excel password for "protected but no password set" files is
the well-known ``VelvetSweatshop`` — callers may retry with it.
"""

from __future__ import annotations

import hashlib
import struct


class XlsCryptoError(ValueError):
    pass


class XlsWrongPasswordError(XlsCryptoError):
    pass


RECORD_FILEPASS = 0x002F
# records whose payloads are NEVER encrypted ([MS-XLS] 2.2.10):
#   BOF, FilePass, UsrExcl, FileLock, InterfaceHdr, RRDInfo, RRDHeadA
_PLAINTEXT_RECORDS = {0x0809, 0x002F, 0x0194, 0x0195, 0x00E1, 0x0196, 0x0138}
RECORD_BOUNDSHEET = 0x0085
_BLOCK = 1024


class RC4:
    """Plain RC4 (public algorithm; ARC4 as described in Schneier)."""

    __slots__ = ("s", "i", "j")

    def __init__(self, key: bytes) -> None:
        s = list(range(256))
        j = 0
        for i in range(256):
            j = (j + s[i] + key[i % len(key)]) & 0xFF
            s[i], s[j] = s[j], s[i]
        self.s = s
        self.i = 0
        self.j = 0

    def crypt(self, data: bytes) -> bytes:
        s = self.s
        i, j = self.i, self.j
        out = bytearray(len(data))
        for k, b in enumerate(data):
            i = (i + 1) & 0xFF
            j = (j + s[i]) & 0xFF
            s[i], s[j] = s[j], s[i]
            out[k] = b ^ s[(s[i] + s[j]) & 0xFF]
        self.i, self.j = i, j
        return bytes(out)


def _std_block_key(password: str, salt: bytes):
    """[MS-OFFCRYPTO] 2.3.6.2 standard RC4 key ladder → block-key fn."""
    h0 = hashlib.md5(password.encode("utf-16-le")).digest()[:5]
    key5 = hashlib.md5((h0 + salt) * 16).digest()[:5]

    def block_key(b: int) -> bytes:
        return hashlib.md5(key5 + struct.pack("<I", b)).digest()

    return block_key


def _capi_block_key(password: str, salt: bytes, key_bits: int):
    """[MS-OFFCRYPTO] 2.3.5.2 RC4 CryptoAPI ladder → block-key fn."""
    h0 = hashlib.sha1(salt + password.encode("utf-16-le")).digest()

    def block_key(b: int) -> bytes:
        k = hashlib.sha1(h0 + struct.pack("<I", b)).digest()[: key_bits // 8]
        if key_bits == 40:
            k += b"\x00" * 11  # CryptoAPI pads 40-bit RC4 keys to 128
        return k

    return block_key


def parse_filepass(data: bytes):
    """FilePass record body → (scheme, salt, verifier, verifier_hash,
    key_bits). scheme ∈ {"std", "capi"}; XOR obfuscation is rejected."""
    (enc_type,) = struct.unpack("<H", data[:2])
    if enc_type == 0x0000:
        raise XlsCryptoError(
            "XOR-obfuscated .xls is not supported (weak pre-BIFF8 scheme)"
        )
    if enc_type != 0x0001:
        raise XlsCryptoError(f"Unknown FilePass wEncryptionType {enc_type:#x}")
    v_major, v_minor = struct.unpack("<HH", data[2:6])
    if (v_major, v_minor) == (1, 1):  # standard RC4
        salt = data[6:22]
        verifier = data[22:38]
        verifier_hash = data[38:54]
        return "std", salt, verifier, verifier_hash, 128
    if v_minor == 2 and v_major in (2, 3, 4):  # RC4 CryptoAPI
        # EncryptionHeader: flags(4) sizeExtra(4) algId(4) algIdHash(4)
        # keySize(4) providerType(4) reserved(8) + CSP name; preceded by
        # headerSize(4) after the version, then EncryptionVerifier
        (header_size,) = struct.unpack("<I", data[6:10])
        header = data[10 : 10 + header_size]
        (flags,) = struct.unpack("<I", header[:4])
        (alg_id,) = struct.unpack("<I", header[8:12])
        if alg_id == 0:
            # [MS-OFFCRYPTO] 2.3.1: algId 0 defers to the header flags —
            # fAES (0x20) means AES, not RC4; decrypting such a stream as
            # RC4 would misreport a wrong-password error
            if flags & 0x20:
                raise XlsCryptoError(
                    "FilePass CryptoAPI header (algId 0) selects AES via "
                    "fAES flag — AES-encrypted legacy .xls is not supported"
                )
        elif alg_id != 0x00006801:  # CALG_RC4
            raise XlsCryptoError(f"FilePass CryptoAPI algId {alg_id:#x} is not RC4")
        (key_bits,) = struct.unpack("<I", header[16:20])
        key_bits = key_bits or 40
        ver = data[10 + header_size :]
        (salt_size,) = struct.unpack("<I", ver[:4])
        salt = ver[4 : 4 + salt_size]
        verifier = ver[4 + salt_size : 20 + salt_size]
        verifier_hash = ver[24 + salt_size : 44 + salt_size]
        return "capi", salt, verifier, verifier_hash, key_bits
    raise XlsCryptoError(f"Unsupported FilePass version {v_major}.{v_minor}")


def _verify(scheme, block_key, verifier_enc, verifier_hash_enc):
    rc4 = RC4(block_key(0))
    verifier = rc4.crypt(verifier_enc)
    got_hash = rc4.crypt(verifier_hash_enc)
    digest = (hashlib.md5 if scheme == "std" else hashlib.sha1)(verifier).digest()
    if digest != got_hash[: len(digest)]:
        raise XlsWrongPasswordError("Incorrect password for encrypted .xls file")


class _Keystream:
    """RC4 keystream over absolute stream positions with 1024-byte
    re-keying; supports advancing WITHOUT emitting (plaintext spans still
    consume keystream per the spec)."""

    def __init__(self, block_key) -> None:
        self._block_key = block_key
        self._block = -1
        self._rc4: RC4 | None = None
        self._pos = 0

    def _cipher_at(self, pos: int) -> RC4:
        block = pos // _BLOCK
        if block != self._block or self._rc4 is None or pos < self._pos:
            self._rc4 = RC4(self._block_key(block))
            self._block = block
            self._pos = block * _BLOCK
        if pos > self._pos:
            self._rc4.crypt(b"\x00" * (pos - self._pos))
            self._pos = pos
        return self._rc4

    def crypt_at(self, pos: int, data: bytes) -> bytes:
        """Decrypt `data` located at absolute stream offset `pos`."""
        out = bytearray()
        off = 0
        while off < len(data):
            p = pos + off
            rc4 = self._cipher_at(p)
            n = min(len(data) - off, _BLOCK - p % _BLOCK)
            out += rc4.crypt(data[off : off + n])
            self._pos = p + n
            off += n
        return bytes(out)


def decrypt_workbook_stream(stream: bytes, password: str) -> bytes:
    """Decrypt an RC4-protected BIFF8 Workbook stream in place: returns a
    plaintext stream with the same record layout (FilePass retained but
    inert). Raises XlsWrongPasswordError on a bad password."""
    # locate FilePass (must appear in the first few records, after BOF)
    filepass = None
    pos = 0
    while pos + 4 <= len(stream):
        rec_id, length = struct.unpack("<HH", stream[pos : pos + 4])
        if rec_id == RECORD_FILEPASS:
            filepass = stream[pos + 4 : pos + 4 + length]
            break
        if rec_id == 0x000A:  # EOF of globals: no FilePass
            break
        pos += 4 + length
    if filepass is None:
        return stream  # not encrypted
    scheme, salt, verifier, verifier_hash, key_bits = parse_filepass(filepass)
    block_key = (
        _std_block_key(password, salt)
        if scheme == "std"
        else _capi_block_key(password, salt, key_bits)
    )
    _verify(scheme, block_key, verifier, verifier_hash)

    ks = _Keystream(block_key)
    out = bytearray(stream)
    pos = 0
    while pos + 4 <= len(stream):
        rec_id, length = struct.unpack("<HH", stream[pos : pos + 4])
        body_at = pos + 4
        body = stream[body_at : body_at + length]
        if rec_id not in _PLAINTEXT_RECORDS and length:
            if rec_id == RECORD_BOUNDSHEET and length >= 4:
                # lbPlyPos (first 4 bytes) is plaintext; keystream advances
                ks.crypt_at(body_at, body[:4])  # discard: consume keystream
                out[body_at + 4 : body_at + length] = ks.crypt_at(
                    body_at + 4, body[4:]
                )
            else:
                out[body_at : body_at + length] = ks.crypt_at(body_at, body)
        elif length:
            ks.crypt_at(body_at, body)  # plaintext record: consume only
        pos = body_at + length
    return bytes(out)


_FIXTURE_SALT = b"\x01" * 16


def encrypt_workbook_stream(stream: bytes, password: str, scheme: str = "std") -> bytes:
    """Inverse of `decrypt_workbook_stream` for fixture generation: insert
    a FilePass record after the first BOF and encrypt the stream per the
    same spec rules. RC4 is symmetric, so this exercises the exact
    decrypt arithmetic."""
    (bof_id, bof_len) = struct.unpack("<HH", stream[:4])
    if bof_id != 0x0809:
        raise XlsCryptoError("stream must start with BOF")
    if scheme == "std":
        block_key = _std_block_key(password, _FIXTURE_SALT)
        rc4 = RC4(block_key(0))
        verifier = bytes(range(16))
        enc_verifier = rc4.crypt(verifier)
        enc_hash = rc4.crypt(hashlib.md5(verifier).digest())
        body = struct.pack("<HHH", 1, 1, 1) + _FIXTURE_SALT + enc_verifier + enc_hash
    elif scheme == "capi":
        block_key = _capi_block_key(password, _FIXTURE_SALT, 128)
        rc4 = RC4(block_key(0))
        verifier = bytes(range(16))
        enc_verifier = rc4.crypt(verifier)
        enc_hash = rc4.crypt(hashlib.sha1(verifier).digest())
        csp = "Microsoft Base Cryptographic Provider v1.0\x00".encode("utf-16-le")
        header = (
            struct.pack("<IIIIII", 0, 0, 0x6801, 0x8004, 128, 1)
            + b"\x00" * 8
            + csp
        )
        body = (
            struct.pack("<H", 1)  # wEncryptionType = 1 (RC4)
            + struct.pack("<HH", 2, 2)  # vMajor=2 vMinor=2 (CryptoAPI)
            + struct.pack("<I", len(header))
            + header
            + struct.pack("<I", len(_FIXTURE_SALT))
            + _FIXTURE_SALT
            + enc_verifier
            + struct.pack("<I", 20)
            + enc_hash
        )
    else:
        raise XlsCryptoError(f"unknown scheme {scheme!r}")
    filepass = struct.pack("<HH", RECORD_FILEPASS, len(body)) + body
    plain = bytearray(stream[: 4 + bof_len] + filepass + stream[4 + bof_len :])
    # splicing FilePass shifts every later stream offset: patch each
    # BoundSheet8 lbPlyPos like Excel would have written it
    pos = 0
    while pos + 4 <= len(plain):
        rec_id, length = struct.unpack("<HH", plain[pos : pos + 4])
        if rec_id == RECORD_BOUNDSHEET and length >= 4:
            (ply,) = struct.unpack("<I", plain[pos + 4 : pos + 8])
            if ply >= 4 + bof_len:
                plain[pos + 4 : pos + 8] = struct.pack("<I", ply + len(filepass))
        pos += 4 + length
    plain = bytes(plain)

    ks = _Keystream(block_key)
    out = bytearray(plain)
    pos = 0
    while pos + 4 <= len(plain):
        rec_id, length = struct.unpack("<HH", plain[pos : pos + 4])
        body_at = pos + 4
        body = plain[body_at : body_at + length]
        if rec_id not in _PLAINTEXT_RECORDS and length:
            if rec_id == RECORD_BOUNDSHEET and length >= 4:
                ks.crypt_at(body_at, body[:4])
                out[body_at + 4 : body_at + length] = ks.crypt_at(
                    body_at + 4, body[4:]
                )
            else:
                out[body_at : body_at + length] = ks.crypt_at(body_at, body)
        elif length:
            ks.crypt_at(body_at, body)
        pos = body_at + length
    return bytes(out)


def is_encrypted_xls_stream(stream: bytes) -> bool:
    pos = 0
    while pos + 4 <= len(stream):
        rec_id, length = struct.unpack("<HH", stream[pos : pos + 4])
        if rec_id == RECORD_FILEPASS:
            return True
        if rec_id == 0x000A:
            return False
        pos += 4 + length
    return False
