"""pgcrypto hmac() (contrib/pgcrypto/px-hmac.c) as pure JVM expressions:
constant-folded RFC 2104 pads + builtin md5/sha1/sha2 over binary
concat — codegen-resident, no Python in the loop."""

from __future__ import annotations

import ctypes
import ctypes.util

import pytest
from pyspark.sql import functions as F

from gpdb_spark.functions.crypto import hmac_hex, reference_hmac_hex

JEFE_SHA256 = "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843"


def _glibc_crypt():
    """crypt(3) from libcrypt through ctypes (the stdlib ``crypt``
    module is gone in Python 3.13); skips where libcrypt is absent."""
    name = ctypes.util.find_library("crypt")
    if name is None:
        pytest.skip("libcrypt unavailable")
    fn = ctypes.CDLL(name).crypt
    fn.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
    fn.restype = ctypes.c_char_p
    return lambda pw, salt: fn(pw.encode(), salt.encode()).decode()


def _compute(spark, data: str, key, algo: str) -> str:
    df = spark.createDataFrame([(data,)], "m string")
    return df.select(hmac_hex(F.col("m"), key, algo).alias("h")).first().h


def test_rfc2202_4231_jefe_vectors(spark):
    """RFC 2202 (md5/sha1) and RFC 4231 (sha2 family) test case 2."""
    data, key = "what do ya want for nothing?", "Jefe"
    got = _compute(spark, data, key, "sha256")
    assert got == JEFE_SHA256  # published RFC 4231 constant
    for algo in ("md5", "sha1", "sha224", "sha384", "sha512"):
        assert _compute(spark, data, key, algo) == reference_hmac_hex(
            data, key, algo
        )


def test_long_key_is_hashed_first(spark):
    """Keys longer than the block are digested first (RFC 4231 case 6);
    sha384/512 use the 128-byte block."""
    key = b"\xaa" * 131
    data = "Test Using Larger Than Block-Size Key - Hash Key First"
    for algo in ("sha256", "sha512", "md5"):
        assert _compute(spark, data, key, algo) == reference_hmac_hex(
            data, key, algo
        )


def test_hmac_stays_jvm_side(spark):
    df = spark.createDataFrame([("x",), ("y",)], "m string").select(
        hmac_hex(F.col("m"), "k", "sha256").alias("h")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hmac_over_corpus_distinct(spark):
    """Distinct messages get distinct MACs; equal messages collide —
    the keyed-fingerprint use (signed dedup keys) a pipeline needs."""
    df = spark.createDataFrame(
        [("a", "doc one"), ("b", "doc two"), ("c", "doc one")], "id string, m string"
    )
    out = df.select("id", hmac_hex(F.col("m"), b"signing-key", "sha256").alias("h"))
    rows = {r.id: r.h for r in out.collect()}
    assert rows["a"] == rows["c"] != rows["b"]
    assert rows["a"] == reference_hmac_hex("doc one", b"signing-key", "sha256")


def test_md5_crypt_glibc_vectors():
    """The pure-Python md5-crypt reference must be byte-identical to
    glibc's crypt(3) — an independent implementation of the same public
    algorithm (crypt-md5.c). Skipped where libcrypt is absent."""
    from gpdb_spark.functions.crypt_md5 import md5_crypt

    glibc_crypt = _glibc_crypt()
    for pw, salt in [
        ("password", "ab01cd23"),
        ("", "xyz"),
        ("naïve café", "s4ltS4lt"),
        ("a" * 40, "qrstuvwx"),
        ("it's a secret", "deadbeef"),
    ]:
        assert md5_crypt(pw, f"$1${salt}") == glibc_crypt(pw, f"$1${salt}$")


def test_md5_crypt_verify_idiom():
    """crypt(pw, stored_hash) == stored_hash — the standard verify path
    (the full $1$salt$hash string is accepted as the salt argument)."""
    from gpdb_spark.functions.crypt_md5 import md5_crypt

    h = md5_crypt("secret", "$1$saltsalt")
    assert md5_crypt("secret", h) == h
    assert md5_crypt("wrong", h) != h


def test_crypt_column_and_gen_salt(spark):
    from pyspark.sql import functions as F

    from gpdb_spark.functions.crypt_md5 import crypt, gen_salt_md5, md5_crypt

    df = spark.createDataFrame(
        [("alice", "pw1", "$1$11111111"), ("bob", "pw2", "$1$22222222")],
        "u string, pw string, salt string",
    )
    rows = df.select(
        "u", crypt(F.col("pw"), F.col("salt")).alias("h")
    ).collect()
    want = {
        "alice": md5_crypt("pw1", "$1$11111111"),
        "bob": md5_crypt("pw2", "$1$22222222"),
    }
    assert {r.u: r.h for r in rows} == want
    # seeded gen_salt is deterministic and well-formed
    s = df.select(gen_salt_md5(F.col("u")).alias("s")).collect()
    import re as _re

    for r in s:
        assert _re.fullmatch(r"\$1\$[./0-9A-Za-z]{8}", r.s)
    s2 = df.select(gen_salt_md5(F.col("u")).alias("s")).collect()
    assert [r.s for r in s] == [r.s for r in s2]


def test_pgp_sym_roundtrip_and_tag(spark):
    """pgp_sym_decrypt(pgp_sym_encrypt(x, k), k) == x; a wrong
    passphrase fails the GCM auth tag (the MDC-check equivalent)."""
    from pyspark.sql import functions as F

    from gpdb_spark.functions.crypt_md5 import (
        pgp_sym_decrypt,
        pgp_sym_encrypt,
        s2k_key,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "naïve café 中文 🙂")],
        "id int, msg string",
    )
    enc = df.select("id", "msg", pgp_sym_encrypt(F.col("msg"), "k1").alias("ct"))
    out = enc.select(
        "id",
        "msg",
        pgp_sym_decrypt(F.col("ct"), "k1").alias("dec"),
    ).collect()
    assert all(r.msg == r.dec for r in out)
    # wrong passphrase: GCM tag failure surfaces as an error
    import pytest as _pytest

    bad = enc.select(pgp_sym_decrypt(F.col("ct"), "nope").alias("x"))
    with _pytest.raises(Exception):
        bad.collect()
    # S2K is the RFC 4880 iterated-salted construction: same inputs,
    # same key; different salt, different key
    assert s2k_key("pw", b"saltAAAA") == s2k_key("pw", b"saltAAAA")
    assert s2k_key("pw", b"saltAAAA") != s2k_key("pw", b"saltBBBB")


def test_pgp_stays_jvm_side(spark):
    """encrypt/decrypt must be builtin JVM expressions (no BatchEvalPython
    / ArrowEvalPython in the plan) — the pgcrypto hot path is codegen."""
    from pyspark.sql import functions as F

    from gpdb_spark.functions.crypt_md5 import pgp_sym_decrypt, pgp_sym_encrypt

    df = spark.range(10).select(F.col("id").cast("string").alias("m"))
    plan = (
        df.select(pgp_sym_decrypt(pgp_sym_encrypt(F.col("m"), "k"), "k"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def _crc24_table(data: bytes) -> int:
    """Independent TABLE-DRIVEN CRC-24 (different formulation from the
    bitwise crc24 in crypt_md5.py) — algebraic cross-check."""
    tbl = []
    for i in range(256):
        crc = i << 16
        for _ in range(8):
            crc <<= 1
            if crc & 0x1000000:
                crc ^= 0x1864CFB
        tbl.append(crc & 0xFFFFFF)
    crc = 0xB704CE
    for b in data:
        crc = ((crc << 8) & 0xFFFFFF) ^ tbl[((crc >> 16) ^ b) & 0xFF]
    return crc


def test_crc24_vectors():
    from gpdb_spark.functions.crypt_md5 import crc24

    assert crc24(b"") == 0xB704CE  # init value, RFC 4880 §6.1
    for m in (b"hello world", b"\x00", b"a" * 1000, bytes(range(256))):
        assert crc24(m) == _crc24_table(m)


def test_armor_roundtrip_and_format(spark):
    """armor(): RFC 4880 radix-64 frame, 76-char wrap, CRC-24 line;
    dearmor(armor(x)) == x incl. unicode and lengths that land exactly
    on the wrap boundary."""
    import base64 as b64

    from pyspark.sql import functions as F

    from gpdb_spark.functions.crypt_md5 import armor, crc24, dearmor

    msgs = [(1, "hello"), (2, ""), (3, "A" * 57), (4, "naïve café 中文"),
            (5, "x" * 300)]
    df = spark.createDataFrame(msgs, "id int, m string")
    rows = df.select(
        "id", "m", armor(F.col("m")).alias("a"),
        dearmor(armor(F.col("m"))).cast("string").alias("rt"),
    ).collect()
    for r in rows:
        assert r.rt == r.m
        assert r.a.startswith("-----BEGIN PGP MESSAGE-----\n\n")
        assert r.a.endswith("\n-----END PGP MESSAGE-----\n")
        body, crc_line = r.a.split("\n=")[0], r.a.split("\n=")[1].split("\n")[0]
        raw = r.m.encode()
        assert crc_line == b64.b64encode(crc24(raw).to_bytes(3, "big")).decode()
        lines = [ln for ln in body.splitlines() if ln and "-" not in ln]
        assert all(len(ln) <= 76 for ln in lines)
        assert b64.b64decode("".join(lines)) == raw


def test_crypt_rejects_unsupported_schemes():
    """Review regression: bcrypt/sha-crypt/DES salts must error loudly,
    not silently hash under md5-crypt (which would reject correct
    passwords in the verify idiom)."""
    import pytest as _pytest

    from gpdb_spark.functions.crypt_md5 import md5_crypt

    for salt in ("$2a$06$abcdefghijklmnopqrstuv", "$5$rounds=5000$salt",
                 "$6$salt", "ab", "abcdefgh"):
        with _pytest.raises(ValueError):
            md5_crypt("pw", salt)


def test_raw_cipher_rijndael_vectors(spark):
    """encrypt()/encrypt_iv() byte-identical to the reference's AES
    goldens (contrib/pgcrypto/expected/rijndael.out): FIPS-197 ECB
    vectors at all three key sizes, zero-IV CBC, key zero-padding
    (6->16, 20->24, 28->32 bytes), empty data, and the explicit-IV
    case ('abcd' zero-padded to 16)."""
    from gpdb_spark.functions.crypt_raw import encrypt, encrypt_iv

    h = bytes.fromhex
    df = spark.range(1)

    def hexof(col):
        return df.select(F.hex(col).alias("v")).collect()[0].v.lower()

    pt = F.unhex(F.lit("00112233445566778899aabbccddeeff"))
    assert (
        hexof(encrypt_iv(pt, h("000102030405060708090a0b0c0d0e0f"), b"",
                         "aes-ecb/pad:none"))
        == "69c4e0d86a7b0430d8cdb78070b4c55a"
    )
    assert (
        hexof(encrypt_iv(
            pt,
            h("000102030405060708090a0b0c0d0e0f1011121314151617"),
            b"", "aes-ecb/pad:none"))
        == "dda97ca4864cdfe06eaf70a0ec0d7191"
    )
    k256 = h("000102030405060708090a0b0c0d0e0f"
             "101112131415161718191a1b1c1d1e1f")
    assert (
        hexof(encrypt_iv(pt, k256, b"", "aes-cbc/pad:none"))
        == "8ea2b7ca516745bfeafc49904b496089"
    )
    # key zero-padding to the next supported size
    assert (
        hexof(encrypt(F.unhex(F.lit("0011223344")), h("000102030405"),
                      "aes-cbc"))
        == "189a28932213f017b246678dbc28655f"
    )
    assert (
        hexof(encrypt(F.unhex(F.lit("0011223344")),
                      h("000102030405060708090a0b0c0d0e0f10111213"),
                      "aes-cbc"))
        == "3b02279162d15580e069d3a71407a556"
    )
    assert (
        hexof(encrypt(F.unhex(F.lit("0011223344")),
                      h("000102030405060708090a0b0c0d0e0f10111213141516171819"
                        "1a1b"), "aes-cbc"))
        == "4facb6a041d53e0a5a73289170901fe7"
    )
    assert hexof(encrypt(F.lit(""), "foo", "aes")) == (
        "b48cc3338a2eb293b6007ef72c360d48"
    )
    assert hexof(encrypt(F.lit("foo"), "0123456789", "aes")) == (
        "f397f03d2819b7172b68d0706fda4693"
    )
    assert hexof(encrypt(F.lit("foo"), "0123456789012345678901", "aes")) == (
        "5c9db77af02b4678117bcd8a71ae7f53"
    )
    assert hexof(encrypt_iv(F.lit("foo"), "0123456", "abcd", "aes")) == (
        "2c24cb7da91d6d5699801268b0f5adad"
    )
    assert hexof(
        encrypt(F.lit("Lets try a longer message."), "0123456789", "aes")
    ) == (
        "d9beb785dd5403ed02f66b755bb191b9"
        "3ed93ca54930153f2c3b9ec7785056ad"
    )


def test_raw_cipher_roundtrip_and_errors(spark):
    from gpdb_spark.functions.crypt_raw import (
        decrypt,
        decrypt_iv,
        encrypt,
        encrypt_iv,
    )
    import pytest

    df = spark.createDataFrame(
        [("foo",), ("naïve café 中文",), ("",), ("x" * 100,)], "m string"
    )
    out = df.select(
        "m",
        decrypt(encrypt(F.col("m"), "0123456", "aes"), "0123456", "aes")
        .cast("string").alias("cbc_rt"),
        decrypt(encrypt(F.col("m"), "k", "aes-ecb"), "k", "aes-ecb")
        .cast("string").alias("ecb_rt"),
        decrypt_iv(
            encrypt_iv(F.col("m"), "k2", "iviviviv", "aes"),
            "k2", "iviviviv", "aes",
        ).cast("string").alias("iv_rt"),
    ).collect()
    for r in out:
        assert r.cbc_rt == r.m and r.ecb_rt == r.m and r.iv_rt == r.m

    with pytest.raises(ValueError):
        encrypt(F.lit("x"), "k", "bf")  # blowfish out of scope — loud
    with pytest.raises(ValueError):
        encrypt(F.lit("x"), b"k" * 33, "aes")  # key > 32 bytes
    with pytest.raises(NotImplementedError):
        decrypt(F.lit("x"), "k", "aes/pad:none")


def test_raw_cipher_stays_jvm_side(spark):
    """The whole encrypt/decrypt pipeline must be codegen-resident —
    no BatchEvalPython / ArrowEvalPython stage."""
    from gpdb_spark.functions.crypt_raw import decrypt, encrypt

    df = spark.range(8).select(F.col("id").cast("string").alias("m"))
    plan = df.select(
        decrypt(encrypt(F.col("m"), "k", "aes"), "k", "aes").alias("d")
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_md5_crypt_randomized_vs_glibc():
    """500 random (password, salt) pairs against glibc crypt(3) — the
    strongest independent check of the key-stretching loop. Skipped
    where libcrypt is absent."""
    glibc_crypt = _glibc_crypt()
    import random
    import string

    from gpdb_spark.functions.crypt_md5 import md5_crypt

    rng = random.Random(42)
    alphabet = string.ascii_letters + string.digits + "./"
    printable = string.printable.replace("$", "")  # $ would end the salt
    for _ in range(500):
        pw = "".join(
            rng.choice(printable) for _ in range(rng.randrange(0, 24))
        )
        salt = "".join(rng.choice(alphabet) for _ in range(8))
        assert md5_crypt(pw, f"$1${salt}") == glibc_crypt(
            pw, f"$1${salt}$"
        ), (pw, salt)


def test_raw_cipher_randomized_roundtrip(spark):
    """One batched job: 300 random (plaintext, key) pairs round-trip
    through zero-IV CBC and ECB; ciphertext length follows the PKCS
    formula exactly."""
    import random

    from gpdb_spark.functions.crypt_raw import decrypt, encrypt

    rng = random.Random(7)
    rows = [
        (i, bytes(rng.randrange(256) for _ in range(rng.randrange(0, 64))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "i int, pt binary")
    # keys are plan-time literals (per-key selects would be 300 jobs):
    # one shared key per mode + the PKCS length formula per row;
    # key-size variation is covered by the rijndael.out goldens
    shared = b"0123456789abcdef"
    got = df.select(
        "i", "pt",
        decrypt(encrypt(F.col("pt"), shared, "aes"), shared, "aes")
        .alias("rt_cbc"),
        decrypt(encrypt(F.col("pt"), shared, "aes-ecb"), shared, "aes-ecb")
        .alias("rt_ecb"),
        F.octet_length(encrypt(F.col("pt"), shared, "aes")).alias("ctl"),
        F.octet_length("pt").alias("ptl"),
    ).collect()
    for r in got:
        assert bytes(r.rt_cbc or b"") == bytes(r.pt or b""), r.i
        assert bytes(r.rt_ecb or b"") == bytes(r.pt or b""), r.i
        assert r.ctl == (r.ptl // 16 + 1) * 16, r.i


def test_raw_cipher_pad_none_null_passthrough(spark):
    """Round-5 review regression: PG encrypt is STRICT — a NULL row
    must yield NULL, not abort the query via the pad:none block-size
    raise_error (whose when() treated the NULL condition as false)."""
    from gpdb_spark.functions.crypt_raw import decrypt, encrypt

    df = spark.createDataFrame(
        [(0, b"0123456789abcdef"), (1, None)], "i int, m binary"
    )
    key = b"k" * 16
    got = df.select(
        "i",
        encrypt(F.col("m"), key, "aes/pad:none").alias("ct"),
    ).orderBy("i").collect()
    assert got[0].ct is not None
    assert got[1].ct is None
    # NULL also passes through the pkcs path (and the roundtrip holds)
    rt = df.select(
        decrypt(encrypt(F.col("m"), key, "aes"), key, "aes").alias("rt")
    ).orderBy("i").collect()
    assert bytes(rt[0].rt) == b"0123456789abcdef" and rt[1].rt is None
