"""Crypto known-answer tests: FIPS-197 vectors (as in the reference suite,
/root/reference/tests/aes_unit_tests.py) + RC4 vector + SASLprep vectors
(/root/reference/tests/decrypt_unit_tests.py)."""

from binascii import unhexlify

import pytest
from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4
from cryptography.hazmat.primitives import padding
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
from hypothesis import given, settings, strategies as st

from pdf4py_spark.kernel.crypto import (
    INV_SBOX, SBOX, aes_cbc_decrypt, aes_cbc_encrypt, expand_key, rc4_apply,
    saslprep, _decrypt_block, _encrypt_block,
)
from pdf4py_spark.kernel.model import KernelError


def test_rc4_vector():
    plain = b"Hello world!"
    key = b"123456"
    cipher = rc4_apply(plain, key)
    assert cipher == b"\x48\x9d\x12\x0b\x4b\x13\x62\xf3\x0d\x5b\x46\x97"
    assert rc4_apply(cipher, key) == plain


def test_sbox_pins():
    # FIPS-197 figure 7 spot values — validates the computed tables
    assert SBOX[0x00] == 0x63
    assert SBOX[0x3A] == 0x80
    assert SBOX[0x53] == 0xED
    assert INV_SBOX[0xED] == 0x53
    assert sorted(SBOX) == list(range(256))


def test_key_expansion_all_ff():
    key = unhexlify(b"ffffffffffffffffffffffffffffffff")
    expected = unhexlify(
        b"ffffffffffffffffffffffffffffffff"
        b"e8e9e9e917161616e8e9e9e917161616"
        b"adaeae19bab8b80f525151e6454747f0"
        b"090e2277b3b69a78e1e7cb9ea4a08c6e"
        b"e16abd3e52dc2746b33becd8179b60b6"
        b"e5baf3ceb766d488045d385013c658e6"
        b"71d07db3c6b6a93bc2eb916bd12dc98d"
        b"e90d208d2fbb89b6ed5018dd3c7dd150"
        b"96337366b988fad054d8e20d68a5335d"
        b"8bf03f233278c5f366a027fe0e0514a3"
        b"d60a3588e472f07b82d2d7858cd7c326")
    assert bytes(expand_key(key)) == expected


def test_key_expansion_nist_128():
    key = unhexlify(b"2b7e151628aed2a6abf7158809cf4f3c")
    w = expand_key(key)
    assert bytes(w[-16:]) == unhexlify(
        b"d014f9a8c9ee2589e13f0cc8b6630ca6")


def test_fips197_appendix_b_cipher():
    key = unhexlify(b"2b7e151628aed2a6abf7158809cf4f3c")
    plain = unhexlify(b"3243f6a8885a308d313198a2e0370734")
    expected = unhexlify(b"3925841d02dc09fbdc118597196a0b32")
    w = expand_key(key)
    assert _encrypt_block(plain, w, 10) == expected
    assert _decrypt_block(expected, w, 10) == plain


def test_fips197_appendix_c_192_256():
    plain = unhexlify(b"00112233445566778899aabbccddeeff")
    key192 = unhexlify(b"000102030405060708090a0b0c0d0e0f1011121314151617")
    assert _encrypt_block(plain, expand_key(key192), 12) == \
        unhexlify(b"dda97ca4864cdfe06eaf70a0ec0d7191")
    key256 = unhexlify(
        b"000102030405060708090a0b0c0d0e0f"
        b"101112131415161718191a1b1c1d1e1f")
    assert _encrypt_block(plain, expand_key(key256), 14) == \
        unhexlify(b"8ea2b7ca516745bfeafc49904b496089")


def test_cbc_roundtrip():
    key = b"0123456789abcdef"
    iv = b"fedcba9876543210"
    for msg in (b"", b"short", b"exactly 16 bytes", b"x" * 100):
        enc = aes_cbc_encrypt(msg, key, iv)
        assert aes_cbc_decrypt(enc, key, iv) == msg


def test_cbc_requires_block_multiple():
    with pytest.raises(KernelError):
        aes_cbc_decrypt(b"123", b"0123456789abcdef", b"\x00" * 16)


def test_saslprep_vectors():
    assert saslprep("I­X") == "IX"
    assert saslprep("user") == "user"
    assert saslprep("USER") == "USER"
    assert saslprep("ª") == "a"
    assert saslprep("Ⅸ") == "IX"
    with pytest.raises(KernelError):
        saslprep("")


# In-box differential legs: AES-CBC (both ways) and ARC4 against the
# ``cryptography`` package, so they run without the reference tree.
_AES_KEYS = st.sampled_from([16, 24, 32]).flatmap(
    lambda n: st.binary(min_size=n, max_size=n))
_IVS = st.binary(min_size=16, max_size=16)
_BLOCKS = st.integers(0, 6).flatmap(
    lambda n: st.binary(min_size=16 * n, max_size=16 * n))


def _openssl_cbc(key, iv, data, encrypt):
    cipher = Cipher(algorithms.AES(key), modes.CBC(iv))
    ctx = cipher.encryptor() if encrypt else cipher.decryptor()
    return ctx.update(data) + ctx.finalize()


@settings(max_examples=60, deadline=None)
@given(_BLOCKS, _AES_KEYS, _IVS)
def test_cbc_decrypt_matches_cryptography(data, key, iv):
    assert aes_cbc_decrypt(data, key, iv, unpad=False) == \
        _openssl_cbc(key, iv, data, encrypt=False)


@settings(max_examples=60, deadline=None)
@given(_BLOCKS, _AES_KEYS, _IVS)
def test_cbc_encrypt_matches_cryptography(data, key, iv):
    assert aes_cbc_encrypt(data, key, iv, pad=False) == \
        _openssl_cbc(key, iv, data, encrypt=True)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=80), _AES_KEYS, _IVS)
def test_cbc_encrypt_pads_pkcs7(data, key, iv):
    padder = padding.PKCS7(128).padder()
    padded = padder.update(data) + padder.finalize()
    assert aes_cbc_encrypt(data, key, iv) == \
        _openssl_cbc(key, iv, padded, encrypt=True)


# ARC4 in ``cryptography`` accepts only these key sizes (bits); they
# cover the 40-128-bit range of the PDF standard security handler
_RC4_KEYS = st.sampled_from(sorted(ARC4.key_sizes)).flatmap(
    lambda bits: st.binary(min_size=bits // 8, max_size=bits // 8))


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=300), _RC4_KEYS)
def test_rc4_matches_cryptography(data, key):
    assert rc4_apply(data, key) == \
        Cipher(ARC4(key), mode=None).encryptor().update(data)
