"""tools/condition_audit.py classifiers — pure string checks, no Spark."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "condition_audit",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "condition_audit.py"))
ca = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ca)


def test_xxhash_arity_ignores_nested_commas():
    assert ca.xxhash_arities("xxhash64(concat_ws(':', a, b))") == [1]
    assert ca.xxhash_arities("xxhash64(a, b, c)") == [3]
    assert ca.xxhash_arities(
        "(xxhash64(x#1, 42) = xxhash64(f(y#2, z#3), w#4, 42))") == [2, 3]


def test_xxhash_wide_class():
    wide = ca.SOFT["xxhash-wide"]
    assert not ca._hit(wide, "Condition : (xxhash64(concat_ws(':', a, b)) > 0)")
    assert ca._hit(wide, "Condition : (xxhash64(a, b, c) > 0)")
