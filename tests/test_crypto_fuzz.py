"""Differential fuzz: RC4 and AES-CBC versus the reference implementations
on random keys/payloads. The same primitives also have in-box legs
against the ``cryptography`` package in tests/test_crypto.py."""

import os
import sys

import pytest

try:
    from hypothesis import given, settings, strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

REFERENCE_ROOT = os.environ.get("PDF4PY_REFERENCE_ROOT", "/root/reference")
if not os.path.isdir(os.path.join(REFERENCE_ROOT, "pdf4py")):
    pytest.skip("reference not available", allow_module_level=True)
sys.path.insert(0, REFERENCE_ROOT)

from pdf4py._security import aes as ref_aes  # noqa: E402
from pdf4py._security import rc4 as ref_rc4  # noqa: E402

from pdf4py_spark.kernel import crypto as eng  # noqa: E402


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=120), st.binary(min_size=1, max_size=32))
def test_rc4_parity(data, key):
    assert eng.rc4_apply(data, key) == ref_rc4.rc4(data, key)


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=96).filter(lambda b: len(b) % 16 == 0),
       st.sampled_from([16, 24, 32]).flatmap(
           lambda n: st.binary(min_size=n, max_size=n)),
       st.binary(min_size=16, max_size=16))
def test_cbc_decrypt_parity(data, key, iv):
    try:
        ref = ref_aes.cbc_decrypt(data, key, iv)
        ref_err = None
    except Exception as exc:
        ref, ref_err = None, type(exc).__name__
    try:
        mine = eng.aes_cbc_decrypt(data, key, iv)
        eng_err = None
    except Exception as exc:
        mine, eng_err = None, type(exc).__name__
    assert (ref_err is None) == (eng_err is None)
    if ref_err is None:
        assert mine == ref


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=96),
       st.sampled_from([16, 24, 32]).flatmap(
           lambda n: st.binary(min_size=n, max_size=n)),
       st.binary(min_size=16, max_size=16))
def test_cbc_encrypt_parity(data, key, iv):
    assert eng.aes_cbc_encrypt(data, key, iv) == \
        ref_aes.cbc_encrypt(data, key, iv)
