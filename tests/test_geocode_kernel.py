"""The Arrow tokenize+probe geocode kernel (pages.first_term) against
the pure-Python definition of the geocode: the first `" "`-separated
token that is a gazetteer term wins."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from osmgraft.fixtures import gazetteer_arrays
from osmgraft.pages import _SLICE, first_term

TERMS = gazetteer_arrays()[0]
GAZ = set(TERMS)


def _reference(texts):
    out = []
    for s in texts:
        t = None if s is None else next(
            (t for t in s.split(" ") if t in GAZ), None)
        out.append(-1 if t is None else TERMS.index(t))
    return out


def _kernel(texts, typ=pa.string()):
    return first_term(pa.array(texts, typ), pa.array(TERMS)).tolist()


CASES = {
    "two_terms_first_wins": ["near City07 and City05"],
    "punctuation_attached": ["near City05. downtown", "City05, City06"],
    "prefix_and_overlong": ["City", "City800", "xCity05", "City05x"],
    "leading_space": [" City03 here"],
    "trailing_space": ["here City03 "],
    "double_space": ["a  City04  b"],
    "tab_in_token": ["City01\tCity02 City09"],
    "newline_in_token": ["City0\n7 City08", "City11\n"],
    "empty_string": [""],
    "only_spaces": ["   "],
    "null": [None, "City12"],
    "no_term": ["Document 3 corpus page."],
}


@pytest.mark.parametrize("typ", [pa.string(), pa.large_string()])
@pytest.mark.parametrize("case", sorted(CASES))
def test_kernel_matches_reference(case, typ):
    texts = CASES[case]
    assert _kernel(texts, typ) == _reference(texts)


def test_empty_batch():
    out = first_term(pa.array([], pa.string()), pa.array(TERMS))
    assert out.dtype == np.int32 and len(out) == 0


@pytest.mark.parametrize("rows", [[4095], [4096], [4097], [4095, 4096, 4097]])
def test_slice_edges(rows):
    assert _SLICE == 4096
    texts = ["no place here"] * (3 * _SLICE)
    for r in rows:
        texts[r] = f"x City{r % 80:02d} City00"
    got = _kernel(texts)
    assert got == _reference(texts)
    assert [i for i, v in enumerate(got) if v >= 0] == rows


def test_all_cases_one_batch():
    """Every case in one batch spanning slice edges: row alignment
    survives slicing."""
    texts = [t for c in sorted(CASES) for t in CASES[c]] * 700
    assert len(texts) > 2 * _SLICE
    assert _kernel(texts) == _reference(texts)
