"""Round-9 contract (VERDICT r8 #4): encrypted PDFs with an EMPTY user
password — RC4-40 (V1/R2), RC4-128 (V2/R3), AES-128-CBC (V4/R4
/AESV2) and AES-256-CBC (V5/R5 and V5/R6 incl. the ISO 32000-2
Algorithm 2.B iterated hash) — decrypt and slice to status ``sliced``
on the zero-dependency path; genuinely user-passworded and
unknown-revision files keep the ``passthrough:encrypted`` status.

The fixture builder runs the SAME spec algorithms (pdf_crypt.py) in
the encrypt direction, so fixtures and decryptor cross-check each
other; the AES core is additionally pinned to the FIPS-197 appendix
vector and RC4 to the classic published vector. Round 10 (VERDICT r9
#3) closes the remaining symmetry: the KEY-DERIVATION layer
(Algorithms 2/4/5 and 2.A/2.B) is pinned to literal byte vectors
produced by an independent derivation (hashlib + a second RC4 + OpenSSL
AES), so a fixture/decryptor pair that agreed through a shared
derivation bug fails here too.
"""

from __future__ import annotations

import hashlib
import re

from tests.reference import pdf_crypt as C
from tests.reference.pdf_mini import (
    _LEN_ANY,
    _find_root,
    _map_strings,
    _scan_objects,
    slice_pdf,
)
from tests.reference import pdf_fixtures as fx
from tests.reference.pdf_fixtures import count_pages
from tests.test_pdf_real import _flat_pdf_with_streams

FILE_ID0 = bytes(range(16))
PERMS = -3904  # print+copy denied owner flags — a typical EDGAR value


# ---------------------------------------------------------------------------
# primitive pins (published vectors, not this repo's own outputs)
# ---------------------------------------------------------------------------


def test_aes128_fips197_vector():
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    rk = C._expand_key(key)
    assert C._aes_encrypt_block(rk, pt) == ct
    assert C._aes_decrypt_block(rk, ct) == pt


def test_aes256_fips197_vector():
    key = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
    )
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    rk = C._expand_key(key)
    assert len(rk) == 15
    assert C._aes_encrypt_block(rk, pt) == ct
    assert C._aes_decrypt_block(rk, ct) == pt


def test_aes_cbc_roundtrip_and_padding():
    key = hashlib.md5(b"k").digest()
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes(range(256))[:n]
        enc = fx.aes_cbc_encrypt(key, hashlib.md5(b"iv").digest(), data)
        assert len(enc) % 16 == 0 and len(enc) >= 32
        assert C.aes_cbc_decrypt(key, enc) == data
    assert C.aes_cbc_decrypt(key, b"short") is None


def test_rc4_published_vector():
    # Wikipedia/RFC 6229-era classic vector: Key/Plaintext
    assert C.rc4(b"Key", b"Plaintext") == bytes.fromhex("bbf316e8d940af0ad3")
    assert C.rc4(b"Key", C.rc4(b"Key", b"data!")) == b"data!"


# ---------------------------------------------------------------------------
# key-derivation pins (VERDICT r9 #3): the literals below were produced
# OUTSIDE this module — an independent step-by-step derivation of
# Algorithms 2/4/5 (hashlib MD5 + a second RC4 written from the
# published cipher) and Algorithms 2.A/2.B (hashlib SHA-2 + OpenSSL AES
# via the `cryptography` package), following the spec text directly.
# pdf_crypt's fixture builder and decryptor share one implementation of
# these algorithms by design; these bytes are the external definition
# of correct that a symmetric derivation bug cannot satisfy.
# ---------------------------------------------------------------------------

_KD_O = bytes(range(32))
_KD_P = -3904
_KD_ID0 = bytes.fromhex("fedcba9876543210fedcba9876543210")
_KD_VS = bytes(range(8))  # V5 validation salt
_KD_KS = bytes(range(8, 16))  # V5 key salt
_KD_FILE_KEY = bytes(range(32))


def test_algorithm2_file_keys_match_external_vectors():
    # R2 / 40-bit (single MD5, 5-byte key)
    assert C.compute_key(b"", _KD_O, _KD_P, _KD_ID0, 2, 40) == bytes.fromhex(
        "d0d474e337"
    )
    # R3 / 128-bit (50-round MD5 shrink)
    assert C.compute_key(b"", _KD_O, _KD_P, _KD_ID0, 3, 128) == bytes.fromhex(
        "cd0394f4f42ed8558422eac4b06dfb3b"
    )
    # R4 / 128-bit with /EncryptMetadata false (the ffffffff branch)
    assert C.compute_key(
        b"", _KD_O, _KD_P, _KD_ID0, 4, 128, encrypt_metadata=False
    ) == bytes.fromhex("c972072364929390ac23a4b96a081b40")


def test_algorithm4_5_u_entries_match_external_vectors():
    key2 = C.compute_key(b"", _KD_O, _KD_P, _KD_ID0, 2, 40)
    assert C.compute_u(key2, _KD_ID0, 2) == bytes.fromhex(
        "ed5c89749d6c8c46699ff142bf3acb432e99372f30755acf2cddd8bd80c62607"
    )
    key3 = C.compute_key(b"", _KD_O, _KD_P, _KD_ID0, 3, 128)
    assert C.compute_u(key3, _KD_ID0, 3)[:16] == bytes.fromhex(
        "9797571abae653c8c3c80bba20563fd4"
    )
    key4 = C.compute_key(
        b"", _KD_O, _KD_P, _KD_ID0, 4, 128, encrypt_metadata=False
    )
    assert C.compute_u(key4, _KD_ID0, 4)[:16] == bytes.fromhex(
        "ed25e084c13b5c368033674860951f93"
    )
    # Algorithm 6 end-to-end: the pinned /U authenticates and returns
    # the pinned key
    u3 = C.compute_u(key3, _KD_ID0, 3)
    assert (
        C.authenticate_empty_user(_KD_O, u3, _KD_P, _KD_ID0, 3, 128) == key3
    )


def test_algorithm_2a_2b_match_external_vectors():
    # R5 (plain SHA-256 seed) and R6 (Algorithm 2.B iterated hash)
    assert C._v5_user_hash(b"", _KD_VS, 5) == bytes.fromhex(
        "8a851ff82ee7048ad09ec3847f1ddf44944104d2cbd17ef4e3db22c6785a0d45"
    )
    assert C.hash_2b(b"", _KD_VS) == bytes.fromhex(
        "1403c04eb647d2e60452dfc4eb0a5e0cf322e8a83a759eabbd17d498a93ba041"
    )
    # /UE wraps of the pinned file key (AES-256-CBC, zero IV, no pad)
    r5_ue = bytes.fromhex(
        "fd4a514eedcb866898bc3c8d0e875e456e18d957d776a10c3552590b9f56e42a"
    )
    r6_ue = bytes.fromhex(
        "c26c17153d8739916e16ec229607be4b766c921543e44910db203b2925423e0e"
    )
    for r, ue, hsh in (
        (5, r5_ue, C._v5_user_hash(b"", _KD_VS, 5)),
        (6, r6_ue, C.hash_2b(b"", _KD_VS)),
    ):
        u_entry = hsh + _KD_VS + _KD_KS
        assert (
            C.authenticate_empty_user_v5(u_entry, ue, r) == _KD_FILE_KEY
        ), r


def test_key_derivation_cross_checks_against_openssl_live():
    """When the OpenSSL-backed `cryptography` package is importable,
    re-derive Algorithm 2.B live with a from-the-spec-text loop and an
    independent AES — guards the committed literals themselves."""
    try:
        from cryptography.hazmat.primitives.ciphers import (
            Cipher,
            algorithms,
            modes,
        )
    except ImportError:  # container without OpenSSL bindings
        import pytest

        pytest.skip("cryptography not importable")

    def alg2b(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
        k = hashlib.sha256(pwd + salt + udata).digest()
        rounds = 0
        while True:
            rounds += 1
            k1 = (pwd + k + udata) * 64
            enc = Cipher(algorithms.AES(k[:16]), modes.CBC(k[16:32])).encryptor()
            e = enc.update(k1) + enc.finalize()
            pick = int.from_bytes(e[:16], "big") % 3
            k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[pick](e).digest()
            if rounds >= 64 and e[-1] <= rounds - 32:
                return k[:32]

    for salt in (_KD_VS, _KD_KS, b"\x99" * 8):
        assert C.hash_2b(b"", salt) == alg2b(b"", salt), salt.hex()


# ---------------------------------------------------------------------------
# fixture builder: encrypt a plain fixture with the standard handler
# ---------------------------------------------------------------------------


def _encrypt_pdf(
    content: bytes,
    v: int,
    r: int,
    length_bits: int,
    owner_pwd: bytes = b"owner-secret",
    user_pwd: bytes = b"",
    cfm: bytes = b"AESV2",
    gens: dict[int, int] | None = None,
    file_id: bytes | None = None,
    id_literal: bool = False,
    identity_streams: frozenset[int] = frozenset(),
    crypt_name: bytes = b"Identity",
) -> bytes:
    objs = _scan_objects(content)
    root = _find_root(content, objs)
    gens = gens or {}
    fid = FILE_ID0 if file_id is None else file_id
    aes = v == 5 or (v == 4 and cfm == b"AESV2")
    if v == 5:
        # AES-256: one 32-byte file key, wrapped in /UE; O/OE are
        # owner-path entries the empty-user decryptor never touches
        key = hashlib.sha256(b"v5-file-key").digest()
        u, ue = fx.make_u_ue_v5(key, r, password=user_pwd)
        o, oe = b"\x00" * 48, b"\x00" * 32
    else:
        o = fx.compute_o(owner_pwd, user_pwd, r, length_bits)
        key = C.compute_key(user_pwd, o, PERMS, fid, r, length_bits)
        u = C.compute_u(key, fid, r)
    enc_objs: dict[int, tuple[bytes, bytes | None]] = {}
    for num, (body, data) in objs.items():
        okey = key if v == 5 else C.object_key(key, num, gens.get(num, 0), aes)
        iv = hashlib.md5(b"iv%d" % num).digest()
        body = _map_strings(
            body, lambda raw, k=okey, s=iv: fx.encrypt_bytes(k, raw, aes, iv=s)
        )
        if data is not None and num in identity_streams:
            # /Crypt-filtered stream: stored PLAINTEXT per §7.4.10
            body = (
                b"<< /Filter /Crypt /DecodeParms << /Name /"
                + crypt_name
                + b" >> "
                + body[2:]
            )
        elif data is not None:
            data = fx.encrypt_bytes(okey, data, aes, iv=iv)
            # pin /Length (direct or indirect) to the encrypted payload
            if _LEN_ANY.search(body) is not None:
                body = _LEN_ANY.sub(b"/Length %d" % len(data), body, count=1)
            else:
                body = b"<< /Length %d " % len(data) + body[2:]
        enc_objs[num] = (body, data)
    enc_num = max(enc_objs) + 1
    if v == 5:
        enc_body = (
            b"<< /Filter /Standard /V 5 /R %d /Length 256"
            b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
            b" /StmF /StdCF /StrF /StdCF"
            b" /O <%s> /OE <%s> /U <%s> /UE <%s> /P %d >>"
            % (
                r,
                o.hex().encode(),
                oe.hex().encode(),
                u.hex().encode(),
                ue.hex().encode(),
                PERMS,
            )
        )
    elif v == 4:
        enc_body = (
            b"<< /Filter /Standard /V 4 /R 4 /Length %d"
            b" /CF << /StdCF << /CFM /%s /Length 16 >> >>"
            b" /StmF /StdCF /StrF /StdCF"
            b" /O <%s> /U <%s> /P %d >>"
            % (length_bits, cfm, o.hex().encode(), u.hex().encode(), PERMS)
        )
    else:
        enc_body = (
            b"<< /Filter /Standard /V %d /R %d /Length %d"
            b" /O <%s> /U <%s> /P %d >>"
            % (v, r, length_bits, o.hex().encode(), u.hex().encode(), PERMS)
        )
    enc_objs[enc_num] = (enc_body, None)

    out = bytearray(b"%PDF-1.6\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(enc_objs):
        body, data = enc_objs[num]
        offsets[num] = len(out)
        out += b"%d %d obj\n" % (num, gens.get(num, 0)) + body
        if data is not None:
            out += b"\nstream\n" + data + b"\nendstream"
        out += b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(enc_objs) + 1)
    for num in sorted(enc_objs):
        out += b"%010d 00000 n \n" % offsets[num]
    if id_literal:
        esc = (
            fid.replace(b"\\", b"\\\\")
            .replace(b"(", b"\\(")
            .replace(b")", b"\\)")
        )
        id_tok = b"(" + esc + b")"
    else:
        id_tok = b"<" + fid.hex().encode() + b">"
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R /Encrypt %d 0 R"
        b" /ID [ %s %s ] >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(enc_objs) + 1, root, enc_num, id_tok, id_tok, xref_at)
    )
    return bytes(out)


def _plain_with_title(n_pages: int) -> bytes:
    """The stream-bearing flat fixture, with a literal STRING planted in
    the catalog so string decryption is exercised end-to-end."""
    pdf = _flat_pdf_with_streams(n_pages)
    return pdf.replace(
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Catalog /X17Title (secret-title) /Pages 2 0 R >>",
    )


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------


def _assert_slices_decrypted(variant: str, enc: bytes) -> None:
    # the encrypted original is opaque: the page payloads must NOT be
    # readable before decryption (proves the fixture really encrypts)
    assert b"PAYLOAD-PAGE-1" not in enc, variant
    assert count_pages(enc) == 5, variant
    sliced, status = slice_pdf(enc, 2)
    assert status == "sliced", (variant, status)
    assert count_pages(sliced) == 2, variant
    # re-serialized UNENCRYPTED: plaintext payloads, no /Encrypt
    assert b"PAYLOAD-PAGE-1" in sliced, variant
    assert b"/Encrypt" not in sliced, variant
    # string decryption: the catalog title survives as its hex form
    assert b"secret-title".hex().encode() in sliced, variant
    # dropped pages' payloads are GC'd as usual
    assert b"PAYLOAD-PAGE-5" not in sliced, variant


def test_rc4_40_v1_r2_slices():
    _assert_slices_decrypted(
        "rc4-40", _encrypt_pdf(_plain_with_title(5), v=1, r=2, length_bits=40)
    )


def test_rc4_128_v2_r3_slices():
    _assert_slices_decrypted(
        "rc4-128", _encrypt_pdf(_plain_with_title(5), v=2, r=3, length_bits=128)
    )


def test_aes128_v4_r4_slices():
    _assert_slices_decrypted(
        "aes-128", _encrypt_pdf(_plain_with_title(5), v=4, r=4, length_bits=128)
    )


def test_aes256_v5_r5_slices():
    _assert_slices_decrypted(
        "aes-256-r5", _encrypt_pdf(_plain_with_title(5), v=5, r=5, length_bits=256)
    )


def test_aes256_v5_r6_slices():
    _assert_slices_decrypted(
        "aes-256-r6", _encrypt_pdf(_plain_with_title(5), v=5, r=6, length_bits=256)
    )


def test_real_user_password_keeps_encrypted_passthrough():
    for v, r, bits in ((2, 3, 128), (5, 6, 256)):
        enc = _encrypt_pdf(
            _plain_with_title(5), v=v, r=r, length_bits=bits, user_pwd=b"hunter2"
        )
        out, status = slice_pdf(enc, 2)
        assert (out, status) == (None, "encrypted"), (v, r)


def test_unknown_revision_declines_to_encrypted():
    enc = _encrypt_pdf(_plain_with_title(5), v=2, r=3, length_bits=128)
    # a future/unknown handler class must decline, not mis-decrypt
    enc = enc.replace(b"/V 2 /R 3", b"/V 6 /R 7")
    out, status = slice_pdf(enc, 2)
    assert (out, status) == (None, "encrypted")


def test_short_encrypted_doc_reserializes_decrypted():
    """ADVICE r9: an encrypted file already within the page bound used
    to return its ORIGINAL ciphertext bytes under ``short`` — exactly
    the small files a consumer counting "short == readable plaintext"
    would choke on. It now re-serializes decrypted under the distinct
    ``short-decrypted`` status (plain short files stay verbatim)."""
    enc = _encrypt_pdf(_plain_with_title(2), v=1, r=2, length_bits=40)
    out, status = slice_pdf(enc, 10)
    assert status == "short-decrypted" and out != enc
    assert count_pages(out) == 2
    assert b"/Encrypt" not in out and b"PAYLOAD-PAGE-1" in out
    # plaintext short files keep the bytes-verbatim contract
    plain = _plain_with_title(2)
    out2, status2 = slice_pdf(plain, 10)
    assert (out2, status2) == (plain, "short")


def test_aes_cbc_rejects_bad_pad_bytes():
    """ADVICE r9: a mis-keyed payload whose last plaintext byte lands
    in 1..16 must fall back to raw bytes (None), not silently truncate
    — every pad byte is validated, not just the count."""
    key = hashlib.md5(b"k").digest()
    pt = b"A" * 13 + b"\x01\x02\x03"  # last byte 3, pad bytes wrong
    raw = C._aes_cbc_nopad(key, bytes(16), pt, encrypt=True)
    assert C.aes_cbc_decrypt(key, bytes(16) + raw) is None
    # a VALID pad still strips
    good = fx.aes_cbc_encrypt(key, bytes(16), b"A" * 13)
    assert C.aes_cbc_decrypt(key, good) == b"A" * 13


def test_file_id_literal_with_escaped_paren_decrypts():
    """ADVICE r9: /ID written as a literal string containing an escaped
    ')' must parse through the escape-aware literal parser; the old
    regex truncated it, failed the /U check, and declined the file."""
    enc = _encrypt_pdf(
        _plain_with_title(5),
        v=2,
        r=3,
        length_bits=128,
        file_id=b"id-with-\\)-and-(parens)",
        id_literal=True,
    )
    sliced, status = slice_pdf(enc, 2)
    assert status == "sliced" and count_pages(sliced) == 2
    assert b"PAYLOAD-PAGE-1" in sliced


def test_crypt_identity_stream_stays_plaintext():
    """ADVICE r9 (§7.4.10): a stream whose /Filter chain names the
    Identity crypt filter is stored plaintext — decrypting it with
    StdCF would shred it. Object 4 is page 1's content stream."""
    enc = _encrypt_pdf(
        _plain_with_title(5),
        v=2,
        r=3,
        length_bits=128,
        identity_streams=frozenset({4}),
    )
    assert b"PAYLOAD-PAGE-1" in enc  # stored plaintext in the fixture
    sliced, status = slice_pdf(enc, 2)
    assert status == "sliced" and count_pages(sliced) == 2
    assert b"PAYLOAD-PAGE-1" in sliced  # survived un-mangled


def test_crypt_named_filter_declines_to_encrypted():
    """A /Crypt entry naming a NON-Identity, non-StdCF crypt filter is
    out of handler subset: the whole file declines rather than
    guessing."""
    enc = _encrypt_pdf(
        _plain_with_title(5),
        v=2,
        r=3,
        length_bits=128,
        identity_streams=frozenset({4}),
        crypt_name=b"MyCustomCF",
    )
    out, status = slice_pdf(enc, 2)
    assert (out, status) == (None, "encrypted")


def test_endstream_to_endobj_gap_is_uncapped():
    """ADVICE r8: >26 bytes of whitespace/comments between endstream
    and endobj used to decline the file on the delimiter-scan path —
    now the scanner skips any run of whitespace and %-comments."""
    pdf = _flat_pdf_with_streams(3)
    # force the delimiter path on page 2's stream (break its /Length)
    # and widen the gap far past the old 32-byte window
    gap = b"\n% a long comment " + b"x" * 100 + b"\n   \n"
    m = re.search(rb"/Length (\d+) >>", pdf)
    pdf2 = (
        pdf[: m.start()]
        + b"/Length 1 >>"
        + pdf[m.end() :].replace(b"\nendstream\nendobj\n", b"\nendstream" + gap + b"endobj\n", 1)
    )
    assert count_pages(pdf2) == 3
    sliced, status = slice_pdf(pdf2, 2)
    assert status == "sliced" and count_pages(sliced) == 2


def test_slice_pages_spark_path_decrypts(spark, tmp_path):
    """End-to-end through the mapInPandas operator: an encrypted
    (empty-user-password) PDF in a binaryFile corpus comes out
    DECRYPTED and truncated on the zero-dependency path, status
    ``sliced`` — while a genuinely passworded sibling keeps
    ``passthrough:encrypted`` (the round-9 taxonomy refinement)."""
    from tests.reference.binary_docs import read_document_corpus, slice_pages

    (tmp_path / "1-2021-03-31.pdf").write_bytes(
        _encrypt_pdf(_plain_with_title(5), v=4, r=4, length_bits=128)
    )
    (tmp_path / "2-2021-06-30.pdf").write_bytes(
        _encrypt_pdf(
            _plain_with_title(5), v=2, r=3, length_bits=128, user_pwd=b"nope"
        )
    )
    df = read_document_corpus(spark, str(tmp_path))
    out = {
        r["cik"]: r
        for r in slice_pages(df, max_pages=2, status_col="slice_status").collect()
    }
    assert out["1"]["slice_status"] == "sliced"
    sliced = bytes(out["1"]["content"])
    assert count_pages(sliced) == 2
    assert b"PAYLOAD-PAGE-1" in sliced and b"/Encrypt" not in sliced
    assert out["2"]["slice_status"] == "passthrough:encrypted"


# ---------------------------------------------------------------------------
# code-review r9 regression pins
# ---------------------------------------------------------------------------


def test_literal_escape_8_9_do_not_crash():
    """\\8 and \\9 are NOT octal escapes — the spec drops the backslash
    and keeps the digit; the old int(.., 8) raised ValueError, killing
    the whole mapInPandas batch on real-world encrypted PDFs."""
    from tests.reference.pdf_mini import _parse_literal

    raw, end = _parse_literal(rb"(a\8b\9)", 0)
    assert raw == b"a8b9" and end == 8
    # octal escapes stop at non-octal digits: \011 is tab, \08 is
    # chr(0) followed by a literal '8'
    assert _parse_literal(rb"(\011x)", 0)[0] == b"\tx"
    assert _parse_literal(rb"(\08)", 0)[0] == b"\x008"
    # end-to-end leniency: an encrypted file whose catalog contains a
    # \8 literal still decrypts and slices
    pdf = _plain_with_title(5).replace(b"(secret-title)", b"(se\\8cret)")
    enc = _encrypt_pdf(pdf, v=1, r=2, length_bits=40)
    _, status = slice_pdf(enc, 2)
    assert status == "sliced"


def test_cf_dict_written_before_top_level_length():
    """The top-level /Length (key bits) must not be confused with the
    nested /CF crypt-filter /Length (bytes) when /CF is written first —
    the old first-match regex read 16 and declined a decryptable V4/RC4
    file."""
    enc = _encrypt_pdf(
        _plain_with_title(5), v=4, r=4, length_bits=128, cfm=b"V2"
    )
    reordered = enc.replace(
        b"/V 4 /R 4 /Length 128 /CF << /StdCF << /CFM /V2 /Length 16 >> >>",
        b"/V 4 /R 4 /CF << /StdCF << /CFM /V2 /Length 16 >> >> /Length 128",
    )
    assert reordered != enc  # the reorder actually applied
    _assert_slices_decrypted("v4-rc4-cf-first", reordered)


def test_v4_rc4_crypt_filter_slices():
    """V4 with /CFM /V2 is RC4 under crypt filters — distinct from both
    V2 (no CF) and V4/AESV2."""
    _assert_slices_decrypted(
        "v4-rc4", _encrypt_pdf(_plain_with_title(5), v=4, r=4, length_bits=128, cfm=b"V2")
    )


def test_nonzero_generation_objects_decrypt():
    """The per-object key folds the GENERATION in (Algorithm 1); the
    old decryptor hardcoded gen 0 and silently emitted garbage for
    incrementally-updated objects at gen > 0."""
    plain = _plain_with_title(5)
    objs = _scan_objects(plain)
    gens = {num: (1 if num % 2 else 2) for num in objs}  # all nonzero
    for v, r, bits, cfm in ((1, 2, 40, b"AESV2"), (4, 4, 128, b"AESV2")):
        enc = _encrypt_pdf(plain, v=v, r=r, length_bits=bits, cfm=cfm, gens=gens)
        sliced, status = slice_pdf(enc, 2)
        assert status == "sliced", (v, status)
        assert b"PAYLOAD-PAGE-1" in sliced, v
        assert b"secret-title".hex().encode() in sliced, v
