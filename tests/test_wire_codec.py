"""Property tests (hypothesis) over the wire-format codec — no Spark
session: the codec is the part of the ingest path the adversarial oracle
gate cannot reach (DuckDB has no .cpw reader), so the full input and
corruption space is sampled here instead. Every property is checked against
both parsers: the Python semantics (``_parse_shard_columnar``) and, when it
loads, the C parser (``native.parse_shard_batch``).

1. **Round-trip identity**: encode→parse is the identity on arbitrary
   documents — any unicode (surrogates excluded: not encodable), NULL vs
   empty at every level, extreme offsets.
2. **Corruption totality**: the parsers never raise on arbitrary byte
   mutations, never invent records that were not written, and lose at most
   the mutated record(s) — every surviving record is byte-exact.
"""

from hypothesis import given, settings, strategies as st

from ch_pdf_parse_spark import native
from ch_pdf_parse_spark.sources import wireformat as wf


def _rows(batch):
    """A documents batch → [(doc_id, spans as dicts or None)]."""
    d = batch.to_pydict()
    return list(zip(d["doc_id"], d["spans"]))


def parse_rows(data: bytes) -> list[tuple[list, int]]:
    """``(records, n_corrupt)`` from each parser: the Python semantics,
    then the C parser when it loads."""
    cols = wf._parse_shard_columnar(data)
    out = [(_rows(wf._doc_batch(cols)), cols.corrupt)]
    got = native.parse_shard_batch(data)
    if got is not None:
        out.append((_rows(got[0]), got[1]))
    return out


# valid-unicode text (no lone surrogates — they can't UTF-8 encode)
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60)
_opt_text = st.one_of(st.none(), _text)

_span = st.fixed_dictionaries({
    "kind": _opt_text,
    "text": _opt_text,
    "media_ref": _opt_text,
    "offset": st.one_of(st.none(),
                        st.integers(min_value=-2**31, max_value=2**31 - 1)),
})

_doc = st.tuples(_opt_text, st.one_of(st.none(), st.lists(_span, max_size=8)))
_docs = st.lists(_doc, max_size=12)


@settings(max_examples=200, deadline=None)
@given(_docs)
def test_roundtrip_identity(docs):
    for records, corrupt in parse_rows(wf.encode_shard(docs)):
        assert corrupt == 0
        assert records == docs


def test_empty_shard_arrow_batch():
    cols = wf._parse_shard_columnar(wf.encode_shard([]))
    batch = wf._doc_batch(cols)
    assert batch.num_rows == 0
    assert cols.corrupt == 0


@settings(max_examples=200, deadline=None)
@given(_docs,
       st.integers(min_value=0, max_value=2**31),
       st.integers(min_value=0, max_value=255),
       st.integers(min_value=1, max_value=4))
def test_corruption_never_raises_never_invents(docs, pos_seed, xor, width):
    data = bytearray(wf.encode_shard(docs))
    if xor == 0:
        xor = 0xFF  # a zero xor is the identity — always mutate
    pos = pos_seed % max(1, len(data) - width)
    for k in range(width):
        data[pos + k] ^= xor
    # never raises (we got here), and every surviving record was written:
    # resync may slice a record apart but must not fabricate a decodable one
    # that differs from a written record
    written = {wf.encode_record(d, s) for d, s in docs}
    for records, corrupt in parse_rows(bytes(data)):
        for rec in records:
            assert wf.encode_record(*rec) in written
        assert len(records) <= len(docs)
        # the mutation is detected unless it landed in dead bytes (the
        # footer count field is advisory-only when corruption was already
        # seen)
        if records != docs:
            assert corrupt >= 1
