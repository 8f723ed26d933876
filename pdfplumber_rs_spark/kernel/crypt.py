"""PDF standard security handler (decrypt-only), from the public PDF
32000-1 §7.6 algorithms: RC4 and AES-CBC crypt filters, revision 2-6
key derivation, empty-password auto-decrypt (reference:
Pdf::open / open_with_password, crates/pdfplumber/src/pdf.rs:167-206).

Pure Python; RC4 and a decrypt-only AES implementation (textbook
tables) keep the kernel dependency-free.
"""

from __future__ import annotations

import hashlib
import struct

from .objects import Name, Stream

_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# -- decrypt-only AES (FIPS-197 tables) -------------------------------------

_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16"
)
_INV_SBOX = bytes(256)
_inv = bytearray(256)
for _i, _v in enumerate(_SBOX):
    _inv[_v] = _i
_INV_SBOX = bytes(_inv)
_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36, 0x6C, 0xD8, 0xAB, 0x4D]


def _xtime(a: int) -> int:
    a <<= 1
    if a & 0x100:
        a ^= 0x11B
    return a & 0xFF


_MUL = [[0] * 256 for _ in range(16)]
for _c in (9, 11, 13, 14):
    for _a in range(256):
        r, a, b = 0, _a, _c
        while b:
            if b & 1:
                r ^= a
            a = _xtime(a)
            b >>= 1
        _MUL[_c][_a] = r


def _expand_key(key: bytes) -> list[bytes]:
    nk = len(key) // 4
    nr = nk + 6
    w = [key[4 * i : 4 * i + 4] for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = w[i - 1]
        if i % nk == 0:
            t = bytes(
                _SBOX[t[(j + 1) % 4]] ^ (_RCON[i // nk - 1] if j == 0 else 0)
                for j in range(4)
            )
        elif nk > 6 and i % nk == 4:
            t = bytes(_SBOX[t[j]] for j in range(4))
        w.append(bytes(w[i - nk][j] ^ t[j] for j in range(4)))
    return [b"".join(w[4 * r : 4 * r + 4]) for r in range(nr + 1)]


def _decrypt_block(rk: list[bytes], block: bytes) -> bytes:
    nr = len(rk) - 1
    s = bytearray(a ^ b for a, b in zip(block, rk[nr]))

    def inv_shift_sub(s):
        t = bytearray(16)
        for c in range(4):
            for r in range(4):
                t[((c + r) % 4) * 4 + r] = _INV_SBOX[s[c * 4 + r]]
        return t

    for rnd in range(nr - 1, 0, -1):
        s = inv_shift_sub(s)
        s = bytearray(a ^ b for a, b in zip(s, rk[rnd]))
        t = bytearray(16)
        for c in range(4):
            col = s[4 * c : 4 * c + 4]
            t[4 * c + 0] = _MUL[14][col[0]] ^ _MUL[11][col[1]] ^ _MUL[13][col[2]] ^ _MUL[9][col[3]]
            t[4 * c + 1] = _MUL[9][col[0]] ^ _MUL[14][col[1]] ^ _MUL[11][col[2]] ^ _MUL[13][col[3]]
            t[4 * c + 2] = _MUL[13][col[0]] ^ _MUL[9][col[1]] ^ _MUL[14][col[2]] ^ _MUL[11][col[3]]
            t[4 * c + 3] = _MUL[11][col[0]] ^ _MUL[13][col[1]] ^ _MUL[9][col[2]] ^ _MUL[14][col[3]]
        s = t
    s = inv_shift_sub(s)
    return bytes(a ^ b for a, b in zip(s, rk[0]))


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """First 16 bytes of data are the IV (PDF AESV2/AESV3 convention)."""
    if len(data) < 32:
        return b""
    rk = _expand_key(key)
    iv = data[:16]
    body = data[16 : 16 + (len(data) - 16) // 16 * 16]
    out = bytearray()
    prev = iv
    for i in range(0, len(body), 16):
        block = body[i : i + 16]
        out.extend(a ^ b for a, b in zip(_decrypt_block(rk, block), prev))
        prev = block
    if out:
        pad = out[-1]
        if 1 <= pad <= 16:
            del out[-pad:]
    return bytes(out)


def _aes_cbc_nopad_zero_iv(key: bytes, data: bytes) -> bytes:
    rk = _expand_key(key)
    prev = b"\x00" * 16
    out = bytearray()
    for i in range(0, len(data) // 16 * 16, 16):
        block = data[i : i + 16]
        out.extend(a ^ b for a, b in zip(_decrypt_block(rk, block), prev))
        prev = block
    return bytes(out)


def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """Algorithm 2.B (R6 iterated hash)."""
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        # AES-128-CBC encrypt with key k[:16], iv k[16:32] — we only have
        # decrypt tables, so implement encrypt inline for this one use
        e = _aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    rk = _expand_key(key)
    nr = len(rk) - 1

    def enc_block(block: bytes) -> bytes:
        s = bytearray(a ^ b for a, b in zip(block, rk[0]))
        for rnd in range(1, nr):
            t = bytearray(16)
            for c in range(4):
                for r in range(4):
                    t[c * 4 + r] = _SBOX[s[((c + r) % 4) * 4 + r]]
            u = bytearray(16)
            for c in range(4):
                col = t[4 * c : 4 * c + 4]
                u[4 * c + 0] = _xtime(col[0]) ^ (_xtime(col[1]) ^ col[1]) ^ col[2] ^ col[3]
                u[4 * c + 1] = col[0] ^ _xtime(col[1]) ^ (_xtime(col[2]) ^ col[2]) ^ col[3]
                u[4 * c + 2] = col[0] ^ col[1] ^ _xtime(col[2]) ^ (_xtime(col[3]) ^ col[3])
                u[4 * c + 3] = (_xtime(col[0]) ^ col[0]) ^ col[1] ^ col[2] ^ _xtime(col[3])
            s = bytearray(a ^ b for a, b in zip(u, rk[rnd]))
        t = bytearray(16)
        for c in range(4):
            for r in range(4):
                t[c * 4 + r] = _SBOX[s[((c + r) % 4) * 4 + r]]
        return bytes(a ^ b for a, b in zip(t, rk[nr]))

    out = bytearray()
    prev = iv
    for i in range(0, len(data) // 16 * 16, 16):
        block = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = enc_block(block)
        out.extend(prev)
    return bytes(out)


def compute_standard_values(user_pw: bytes, owner_pw: bytes, p: int,
                            doc_id: bytes) -> tuple[bytes, bytes, bytes]:
    """PDF 32000-1 §7.6.3 algorithms 3.2-3.5 for the standard handler
    at R=3 with a 128-bit RC4 key: returns (O, U, file_key). Only the
    fixture ENCRYPTOR (sources/pdfgen.encrypt_pdf) calls it; Decryptor
    derives and validates the key on its own, so the encrypted-fixture
    tests check one derivation against the other."""
    # Algorithm 3.3: /O
    h = hashlib.md5((owner_pw + _PAD)[:32]).digest()
    for _ in range(50):
        h = hashlib.md5(h).digest()
    okey = h[:16]
    o = rc4(okey, (user_pw + _PAD)[:32])
    for i in range(1, 20):
        o = rc4(bytes(b ^ i for b in okey), o)
    # Algorithm 3.2: file key
    m = hashlib.md5()
    m.update((user_pw + _PAD)[:32])
    m.update(o[:32])
    m.update(struct.pack("<i", p))
    m.update(doc_id)
    key = m.digest()
    for _ in range(50):
        key = hashlib.md5(key[:16]).digest()
    key = key[:16]
    # Algorithm 3.5: /U
    u = rc4(key, hashlib.md5(_PAD + doc_id).digest())
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return o, u + b"\x00" * 16, key


class Decryptor:
    """Holds the file key and crypt-filter methods; decrypts strings and
    streams given their owning object number/generation."""

    def __init__(self, enc: dict, doc_id: bytes, resolve,
                 password: bytes = b"") -> None:
        self.ok = False
        self.valid = True  # r5/r6 and unsupported paths skip /U validation
        filt = str(resolve(enc.get("Filter")) or "")
        if filt != "Standard":
            return  # unsupported handler → leave data encrypted (warn)
        self.v = int(resolve(enc.get("V")) or 0)
        self.r = int(resolve(enc.get("R")) or 2)
        length = int(resolve(enc.get("Length")) or 40)
        self.key_len = max(5, min(length // 8, 32))
        o = resolve(enc.get("O")) or b""
        u = resolve(enc.get("U")) or b""
        p = int(resolve(enc.get("P")) or -1)
        self.stm_cfm = self.str_cfm = "V2" if self.v < 4 else "Identity"
        # per-filter key lengths: StmF and StrF may declare different
        # /Length values — one shared key_len would garble one of them
        self.stm_key_len = self.str_key_len = self.key_len
        if self.v >= 4:
            cf = resolve(enc.get("CF")) or {}
            stmf = str(resolve(enc.get("StmF")) or "Identity")
            strf = str(resolve(enc.get("StrF")) or "Identity")

            def cfm_of(name: str) -> tuple[str, int]:
                if name == "Identity":
                    return "Identity", self.key_len
                d = resolve(cf.get(name)) if isinstance(cf, dict) else None
                if isinstance(d, dict):
                    klen = self.key_len
                    cfl = resolve(d.get("Length"))
                    if isinstance(cfl, (int, float)) and cfl:
                        # CF /Length is in bytes (or bits in some writers)
                        n = int(cfl)
                        klen = max(5, min(n if n <= 32 else n // 8, 32))
                    return str(resolve(d.get("CFM")) or "Identity"), klen
                return "Identity", self.key_len

            self.stm_cfm, self.stm_key_len = cfm_of(stmf)
            self.str_cfm, self.str_key_len = cfm_of(strf)
            # file-key derivation (Algorithm 2) uses the effective stream
            # filter length, matching common writers
            self.key_len = self.stm_key_len if self.stm_cfm != "Identity" \
                else self.str_key_len
        encrypt_metadata = resolve(enc.get("EncryptMetadata"))
        if encrypt_metadata is None:
            encrypt_metadata = True
        if self.r <= 4:
            def derive(user_pw: bytes, key_len: int | None = None) -> bytes:
                if key_len is None:
                    key_len = self.key_len
                h = hashlib.md5()
                h.update((user_pw + _PAD)[:32])
                h.update(bytes(o[:32]))
                h.update(struct.pack("<i", p))
                h.update(bytes(doc_id))
                if self.r >= 4 and not encrypt_metadata:
                    h.update(b"\xff\xff\xff\xff")
                key = h.digest()
                if self.r >= 3:
                    for _ in range(50):
                        key = hashlib.md5(key[:key_len]).digest()
                return key[:key_len]

            def validates(key: bytes) -> bool:
                if self.r == 2:
                    return rc4(key, _PAD) == bytes(u)[:32]
                chk = rc4(key, hashlib.md5(_PAD + bytes(doc_id)).digest())
                for i in range(1, 20):
                    chk = rc4(bytes(b ^ i for b in key), chk)
                return chk[:16] == bytes(u)[:16]

            candidates = [password]
            if password:
                # Algorithm 3.7: treat the password as the OWNER password
                # → recover the user password by decrypting /O
                oh = hashlib.md5((password + _PAD)[:32]).digest()
                if self.r >= 3:
                    for _ in range(50):
                        oh = hashlib.md5(oh).digest()
                okey = oh[: self.key_len]
                upw = bytes(o[:32])
                if self.r == 2:
                    upw = rc4(okey, upw)
                else:
                    for i in range(19, -1, -1):
                        upw = rc4(bytes(b ^ i for b in okey), upw)
                candidates.append(upw.rstrip(b"\x00"))
                candidates.append(upw)
            if not password:
                candidates = [b""]
            self.key = derive(candidates[0])
            winner = candidates[0]
            self.ok = True
            self.valid = False
            for cand in candidates:
                key = derive(cand)
                if validates(key):
                    self.key = key
                    winner = cand
                    self.valid = True
                    break
            # per-filter file keys: re-derive (not truncate!) when a crypt
            # filter declares a different /Length — the md5 iteration folds
            # the length into the key itself
            self._key_by_len = {self.key_len: self.key}
            for kl in (self.stm_key_len, self.str_key_len):
                if kl not in self._key_by_len:
                    self._key_by_len[kl] = derive(winner, kl)
        else:  # R5/R6 — AES-256 (ISO 32000-2 Algorithms 2.A / 11 / 12)
            ue = bytes(resolve(enc.get("UE")) or b"")
            oe = bytes(resolve(enc.get("OE")) or b"")
            u, o = bytes(u), bytes(o)
            u_vsalt, u_ksalt = u[32:40], u[40:48]
            o_vsalt, o_ksalt = o[32:40], o[40:48]

            def _hash(pw: bytes, salt: bytes, udata: bytes) -> bytes:
                if self.r == 5:
                    return hashlib.sha256(pw + salt + udata).digest()
                return _hash_2b(pw, salt, udata)

            # Algorithm 11: is it the user password?
            if _hash(password, u_vsalt, b"") == u[:32]:
                ikey = _hash(password, u_ksalt, b"")
                self.key = _aes_cbc_nopad_zero_iv(ikey, ue)[:32]
                self.valid = True
            # Algorithm 12: is it the owner password?
            elif _hash(password, o_vsalt, u[:48]) == o[:32]:
                ikey = _hash(password, o_ksalt, u[:48])
                self.key = _aes_cbc_nopad_zero_iv(ikey, oe)[:32]
                self.valid = True
            else:
                # wrong password: derive a user-path key anyway (lenient —
                # the caller warns via valid=False, like the R<=4 path)
                ikey = _hash(password, u_ksalt, b"")
                self.key = _aes_cbc_nopad_zero_iv(ikey, ue)[:32]
                self.valid = False
            self.stm_cfm = self.str_cfm = "AESV3"
            self.ok = bool(self.key)

    # -- per-object decryption ------------------------------------------------

    def _object_key(self, num: int, gen: int, aes: bool,
                    key_len: int | None = None) -> bytes:
        if key_len is None:
            key_len = self.key_len
        fkey = getattr(self, "_key_by_len", {}).get(key_len, self.key)
        h = hashlib.md5()
        h.update(fkey)
        h.update(num.to_bytes(3, "little"))
        h.update(gen.to_bytes(2, "little"))
        if aes:
            h.update(b"sAlT")
        return h.digest()[: min(key_len + 5, 16)]

    def _apply(self, cfm: str, data: bytes, num: int, gen: int,
               key_len: int | None = None) -> bytes:
        if not data or cfm == "Identity":
            return data
        if cfm == "AESV3":
            return aes_cbc_decrypt(self.key, data)
        if cfm == "AESV2":
            return aes_cbc_decrypt(
                self._object_key(num, gen, True, key_len), data)
        return rc4(self._object_key(num, gen, False, key_len), data)

    def decrypt_stream(self, raw: bytes, num: int, gen: int) -> bytes:
        return self._apply(self.stm_cfm, raw, num, gen,
                           getattr(self, "stm_key_len", None))

    def decrypt_string(self, s: bytes, num: int, gen: int) -> bytes:
        return self._apply(self.str_cfm, s, num, gen,
                           getattr(self, "str_key_len", None))

    def decrypt_object(self, obj, num: int, gen: int):
        """Recursively decrypt strings and stream payloads in an object."""
        if isinstance(obj, bytes):
            return self.decrypt_string(obj, num, gen)
        if isinstance(obj, list):
            return [self.decrypt_object(v, num, gen) for v in obj]
        if isinstance(obj, dict):
            return {k: self.decrypt_object(v, num, gen) for k, v in obj.items()}
        if isinstance(obj, Stream):
            d = self.decrypt_object(obj.dict, num, gen)
            # XRef and embedded-crypt-exempt streams never reach here
            # (xref parsed before the decryptor exists)
            if isinstance(d.get("Type"), Name) and str(d["Type"]) == "XRef":
                return Stream(d, obj.raw)
            return Stream(d, self.decrypt_stream(obj.raw, num, gen))
        return obj
