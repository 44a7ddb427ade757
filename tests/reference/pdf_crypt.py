"""Standard security handler for the zero-dependency PDF slicer
(pdf_mini.py) — RC4-40/128 and AES-128-CBC decryption with the EMPTY
user password, per the public PDF 32000-1 spec §7.6.2-7.6.3 ("Standard
Security Handler", Algorithms 2-5).

Why: the overwhelming majority of "encrypted" regulatory filings are
owner-password-only — the spec derives the file key from the USER
password, and an empty user password is recoverable by construction —
so a slicer that declines every ``/Encrypt`` file passes through a
corpus slice that the reference's pypdf-backed slicer
(FocusReportSlicing.py:78-109) handles. Genuinely user-passworded
files still decline: :func:`authenticate_empty_user` verifies the
derived key against ``/U`` before any decryption happens.

Scope: ``/Filter /Standard`` with V in {1, 2, 4, 5} and R in
{2, 3, 4, 5, 6} — RC4 with 40-128 bit keys, AES-128-CBC
(``/CFM /AESV2``), and AES-256-CBC (``/CFM /AESV3``, both the R5
extension-level-3 scheme and the ISO 32000-2 R6 iterated-hash
scheme). Only a genuinely non-empty user password (or a non-Standard
filter) declines to the ``encrypted`` passthrough.

Everything here is stdlib-only (hashlib MD5 + a from-scratch FIPS-197
AES with tables generated from GF(2^8) arithmetic at import), so it
runs unchanged inside executor ``mapInPandas`` batches. This module
only decrypts; the encrypt directions that build test fixtures live in
``pdf_fixtures.py`` and reuse this module's primitives.
"""

from __future__ import annotations

import hashlib

# §7.6.3.3 Algorithm 2: the 32-byte password padding string
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _pad_password(pwd: bytes) -> bytes:
    return (pwd + PAD)[:32]


# ---------------------------------------------------------------------------
# RC4 (symmetric: one function for both directions)
# ---------------------------------------------------------------------------


def rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# ---------------------------------------------------------------------------
# AES-128 (FIPS-197), CBC mode. Tables are generated, not transcribed:
# the S-box is the GF(2^8) multiplicative inverse (polynomial 0x11b)
# composed with the affine transform — ~20 lines instead of 256 magic
# numbers, verified against the FIPS-197 appendix vector in
# tests/test_pdf_crypt.py.
# ---------------------------------------------------------------------------


def _gf_tables() -> tuple[list[int], list[int]]:
    exp = [0] * 512
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        # multiply by 0x03 (a generator of GF(2^8)*)
        x ^= (x << 1) ^ (0x11B if x & 0x80 else 0)
        x &= 0xFF
    for i in range(255, 512):
        exp[i] = exp[i - 255]
    return exp, log


_EXP, _LOG = _gf_tables()


def _gf_mul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _EXP[_LOG[a] + _LOG[b]]


def _make_sbox() -> tuple[bytes, bytes]:
    sbox = bytearray(256)
    for i in range(256):
        inv = _EXP[255 - _LOG[i]] if i else 0
        # affine transform: b ^ rot1 ^ rot2 ^ rot3 ^ rot4 ^ 0x63
        b = inv
        acc = 0x63
        for _ in range(5):
            acc ^= b
            b = ((b << 1) | (b >> 7)) & 0xFF
        sbox[i] = acc
    inv_sbox = bytearray(256)
    for i, v in enumerate(sbox):
        inv_sbox[v] = i
    return bytes(sbox), bytes(inv_sbox)


_SBOX, _INV_SBOX = _make_sbox()
_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36]


def _expand_key(key: bytes) -> list[list[int]]:
    """FIPS-197 key schedule for AES-128 (11 round keys) or AES-256
    (15 round keys), selected by key length."""
    nk = len(key) // 4  # 4 or 8 words
    nr = nk + 6  # 10 or 14 rounds
    words = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(words[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk == 8 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        words.append([a ^ b for a, b in zip(words[i - nk], t)])
    return [sum(words[4 * r : 4 * r + 4], []) for r in range(nr + 1)]


def _mix_single(col: list[int], m: tuple[int, int, int, int]) -> list[int]:
    return [
        _gf_mul(col[0], m[0]) ^ _gf_mul(col[1], m[1])
        ^ _gf_mul(col[2], m[2]) ^ _gf_mul(col[3], m[3]),
        _gf_mul(col[0], m[3]) ^ _gf_mul(col[1], m[0])
        ^ _gf_mul(col[2], m[1]) ^ _gf_mul(col[3], m[2]),
        _gf_mul(col[0], m[2]) ^ _gf_mul(col[1], m[3])
        ^ _gf_mul(col[2], m[0]) ^ _gf_mul(col[3], m[1]),
        _gf_mul(col[0], m[1]) ^ _gf_mul(col[1], m[2])
        ^ _gf_mul(col[2], m[3]) ^ _gf_mul(col[3], m[0]),
    ]


def _sub_shift(state: list[int], inverse: bool) -> list[int]:
    box = _INV_SBOX if inverse else _SBOX
    out = [0] * 16
    for c in range(4):
        for r in range(4):
            shift = (c - r) % 4 if inverse else (c + r) % 4
            out[4 * c + r] = box[state[4 * shift + r]]
    return out


def _aes_encrypt_block(rk: list[list[int]], block: bytes) -> bytes:
    nr = len(rk) - 1
    state = [b ^ k for b, k in zip(block, rk[0])]
    for rnd in range(1, nr + 1):
        state = _sub_shift(state, inverse=False)
        if rnd < nr:
            state = sum(
                (
                    _mix_single(state[4 * c : 4 * c + 4], (2, 3, 1, 1))
                    for c in range(4)
                ),
                [],
            )
        state = [b ^ k for b, k in zip(state, rk[rnd])]
    return bytes(state)


def _aes_decrypt_block(rk: list[list[int]], block: bytes) -> bytes:
    nr = len(rk) - 1
    state = [b ^ k for b, k in zip(block, rk[nr])]
    for rnd in range(nr - 1, -1, -1):
        state = _sub_shift(state, inverse=True)
        state = [b ^ k for b, k in zip(state, rk[rnd])]
        if rnd > 0:
            state = sum(
                (
                    _mix_single(state[4 * c : 4 * c + 4], (14, 11, 13, 9))
                    for c in range(4)
                ),
                [],
            )
    return bytes(state)


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes | None:
    """PDF AESV2 payload: IV (16 bytes) || ciphertext; PKCS#7-padded.
    None when the payload is malformed (caller keeps raw bytes)."""
    if len(data) < 32 or len(data) % 16 != 0:
        return None
    rk = _expand_key(key)
    iv, out = data[:16], bytearray()
    for i in range(16, len(data), 16):
        block = data[i : i + 16]
        out += bytes(a ^ b for a, b in zip(_aes_decrypt_block(rk, block), iv))
        iv = block
    npad = out[-1]
    # validate the pad BYTES, not just the count (ADVICE r9): a
    # corrupt/mis-keyed payload whose last plaintext byte lands in
    # 1..16 must trigger the documented raw-bytes fallback, not
    # silently truncate up to 16 bytes
    if not 1 <= npad <= 16 or out[-npad:] != bytes([npad]) * npad:
        return None
    return bytes(out[:-npad])


# ---------------------------------------------------------------------------
# Standard security handler key algorithms (§7.6.3.3-7.6.3.4)
# ---------------------------------------------------------------------------


def compute_key(
    user_pwd: bytes,
    o_entry: bytes,
    p: int,
    id0: bytes,
    r: int,
    length_bits: int,
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key from a user password."""
    n = 5 if r == 2 else length_bits // 8
    h = hashlib.md5()
    h.update(_pad_password(user_pwd))
    h.update(o_entry[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    digest = h.digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest[:n]).digest()
    return digest[:n]


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R=2) / Algorithm 5 (R>=3): the /U entry."""
    if r == 2:
        return rc4(key, PAD)
    digest = hashlib.md5(PAD + id0).digest()
    enc = rc4(key, digest)
    for i in range(1, 20):
        enc = rc4(bytes(b ^ i for b in key), enc)
    return enc + b"\x00" * 16  # 16 bytes of arbitrary padding


def authenticate_empty_user(
    o_entry: bytes,
    u_entry: bytes,
    p: int,
    id0: bytes,
    r: int,
    length_bits: int,
    encrypt_metadata: bool = True,
) -> bytes | None:
    """Algorithm 6 with the EMPTY user password: the file key when it
    verifies against /U, else None (genuinely passworded file)."""
    key = compute_key(b"", o_entry, p, id0, r, length_bits, encrypt_metadata)
    expect = compute_u(key, id0, r)
    got = u_entry
    # R>=3 compares only the first 16 bytes (the rest is padding)
    if r >= 3:
        return key if expect[:16] == got[:16] else None
    return key if expect[:32] == got[:32] else None


def object_key(file_key: bytes, num: int, gen: int, aes: bool) -> bytes:
    """§7.6.2 Algorithm 1: the per-object key — MD5 of the file key,
    the low 3 bytes of the object number, the low 2 bytes of the
    generation, and (AESV2 only) the salt ``sAlT``."""
    h = hashlib.md5()
    h.update(file_key)
    h.update(num.to_bytes(4, "little")[:3])
    h.update(gen.to_bytes(4, "little")[:2])
    if aes:
        h.update(b"sAlT")
    n = min(len(file_key) + 5, 16)
    return h.digest()[:n]


def decrypt_bytes(okey: bytes, data: bytes, aes: bool) -> bytes:
    """One string/stream payload under the object key; malformed AES
    payloads fall back to the raw bytes (lenient, like every other
    out-of-subset path in pdf_mini)."""
    if not aes:
        return rc4(okey, data)
    out = aes_cbc_decrypt(okey, data)
    return data if out is None else out


# ---------------------------------------------------------------------------
# V5 / AES-256 (R5: Adobe extension level 3; R6: ISO 32000-2 §7.6.4).
# V5 derives NO per-object keys — every string/stream uses the 32-byte
# file key directly (/CFM /AESV3), and the file key is wrapped in /UE
# by an intermediate key derived from the user password.
# ---------------------------------------------------------------------------


def _aes_cbc_nopad(key: bytes, iv: bytes, data: bytes, encrypt: bool) -> bytes:
    """Raw CBC with no padding (data length must be a block multiple) —
    the mode Algorithm 2.B and the /UE key unwrap use."""
    rk = _expand_key(key)
    out = bytearray()
    if encrypt:
        prev = iv
        for i in range(0, len(data), 16):
            block = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
            prev = _aes_encrypt_block(rk, block)
            out += prev
    else:
        prev = iv
        for i in range(0, len(data), 16):
            block = data[i : i + 16]
            out += bytes(
                a ^ b for a, b in zip(_aes_decrypt_block(rk, block), prev)
            )
            prev = block
    return bytes(out)


def hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B — the R6 iterated hash: SHA-256 seed,
    then rounds of AES-128-CBC(K[:16], iv=K[16:32]) over 64 copies of
    (password + K + udata), picking SHA-256/384/512 by the first 16
    bytes of E mod 3; stops after round >= 64 once E's last byte <=
    round - 32. (R5 uses the plain SHA-256 seed only.)"""
    k = hashlib.sha256(password + salt + udata).digest()
    rnd = 0
    while True:
        rnd += 1
        k1 = (password + k + udata) * 64
        e = _aes_cbc_nopad(k[:16], k[16:32], k1, encrypt=True)
        # first 16 bytes as a big-endian int mod 3 == byte-sum mod 3
        pick = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[pick](e).digest()
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def _v5_user_hash(password: bytes, salt: bytes, r: int) -> bytes:
    if r == 5:
        return hashlib.sha256(password + salt).digest()
    return hash_2b(password, salt)


def authenticate_empty_user_v5(
    u_entry: bytes, ue_entry: bytes, r: int
) -> bytes | None:
    """V5 (R5/R6) user-password path with the EMPTY password:
    /U = hash(32) || validation salt(8) || key salt(8); on a hash
    match, the 32-byte FILE key is the /UE unwrap under the
    intermediate key from the key salt. None when the password is
    real or the entries are malformed."""
    if len(u_entry) < 48 or len(ue_entry) < 32:
        return None
    vsalt, ksalt = u_entry[32:40], u_entry[40:48]
    if _v5_user_hash(b"", vsalt, r) != u_entry[:32]:
        return None
    intermediate = _v5_user_hash(b"", ksalt, r)
    return _aes_cbc_nopad(intermediate, bytes(16), ue_entry[:32], encrypt=False)
