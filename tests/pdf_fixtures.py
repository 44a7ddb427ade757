"""Encrypt-side PDF fixture builders and an independent page count.

The engine only decrypts (``x17a5_spark/sources/pdf_crypt.py``). The
tests build encrypted fixtures with the same spec algorithms run in
the encrypt direction, over the module's own AES, RC4 and V5 hash
primitives, so fixtures and decryptor share one implementation of the
spec; tests/test_pdf_crypt.py pins those primitives to published
vectors.
"""

from __future__ import annotations

import hashlib

from x17a5_spark.sources.pdf_crypt import (
    _aes_cbc_nopad,
    _aes_encrypt_block,
    _expand_key,
    _pad_password,
    _v5_user_hash,
    rc4,
)
from x17a5_spark.sources.pdf_mini import _parse


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """IV || ciphertext with PKCS#7 padding."""
    rk = _expand_key(key)
    npad = 16 - len(data) % 16
    data = data + bytes([npad]) * npad
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(data), 16):
        block = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = _aes_encrypt_block(rk, block)
        out += prev
    return bytes(out)


def compute_o(owner_pwd: bytes, user_pwd: bytes, r: int, length_bits: int) -> bytes:
    """Algorithm 3: the /O entry."""
    n = 5 if r == 2 else length_bits // 8
    digest = hashlib.md5(_pad_password(owner_pwd)).digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest).digest()
    rc4_key = digest[:n]
    o = rc4(rc4_key, _pad_password(user_pwd))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in rc4_key), o)
    return o


def encrypt_bytes(okey: bytes, data: bytes, aes: bool, iv: bytes = b"") -> bytes:
    """One string/stream payload under the object key (IV required for
    AES)."""
    if not aes:
        return rc4(okey, data)
    return aes_cbc_encrypt(okey, iv or bytes(16), data)


def make_u_ue_v5(
    file_key: bytes, r: int, password: bytes = b""
) -> tuple[bytes, bytes]:
    """(/U, /UE) for a user password (empty by default) with
    deterministic salts."""
    vsalt = hashlib.md5(b"vsalt").digest()[:8]
    ksalt = hashlib.md5(b"ksalt").digest()[:8]
    u = _v5_user_hash(password, vsalt, r) + vsalt + ksalt
    intermediate = _v5_user_hash(password, ksalt, r)
    ue = _aes_cbc_nopad(intermediate, bytes(16), file_key, encrypt=True)
    return u, ue


def count_pages(content: bytes) -> int | None:
    """Leaf-page count through pdf_mini's parser (None when the file
    is outside its subset): a structural check on sliced output."""
    parsed, _reason = _parse(content)
    return None if parsed is None else len(parsed[3])
