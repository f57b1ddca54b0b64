"""Arrow <-> numpy at the Python worker boundary, without pandas.

pyarrow imports pandas from several of its conversion entry points, even
when no pandas object is ever made: about 0.5 s of import and 30 MB of
resident memory in every fresh Python worker. With pyarrow 16 these calls
import it:

- ``pa.array(...)`` over a list or a numpy array, and ``pa.scalar(...)``;
- a Python scalar passed to a ``pyarrow.compute`` function
  (``pc.not_equal(tokens, "")``, ``pc.add(a, 1)``,
  ``pc.binary_join_element_wise(a, b, " ")``), which goes through
  ``pa.scalar``;
- ``Array.to_numpy()``, with or without ``zero_copy_only``, and
  ``np.asarray(arrow_array)``;
- ``fill_null(<python value>)``;
- ``RecordBatch.from_pydict`` or ``pa.table`` over lists or numpy arrays;
- ``Table.group_by`` (it loads ``pyarrow.dataset``), and ``take`` or
  ``filter`` with a numpy argument.

Use instead:

- ``values(arr)``: a numpy view of a fixed-width or boolean column;
- ``valid(arr)``: its validity as a numpy bool mask;
- ``offsets(arr)``: the offsets of a string, binary or list column, a
  numpy view;
- ``lengths(arr)``: per-row lengths of a string, binary or list column,
  read from its offsets;
- ``array(np_values, type, valid=...)``: ``pa.Array.from_buffers`` over a
  numpy array (zero-copy for fixed-width types);
- ``from_list(py_values, type)``: a Python list, ``None`` for NULL;
- ``RecordBatch.from_arrays(arrays, schema=...)`` for batches, and
  ``dictionary_encode`` + numpy for grouped sums.

``token_counts(texts)`` is the one tokenizer of the token-count
kernels: it yields ``(distinct tokens, int64 counts)`` per slice of a text
column, cut at row boundaries by text bytes so a worker's transient
memory follows string bytes, not Arrow batch rows. The first slice holds
``_SLICE_BYTES`` (1 MB) of text; the next is ``_SLICE_GROWTH`` (4) times
larger while the current slice's distinct tokens are under a quarter of
its tokens (repetitive text collapses to few rows, and fewer, larger
slices save per-slice hashing and update work), and goes back to 1 MB
otherwise.

Compute kernels whose arguments are all Arrow arrays (``split_pattern``,
``dictionary_encode``, ``value_counts``, ``is_in``, ``filter``/``take``
with an Arrow argument, ``sort_indices``), a scalar taken out of an Arrow
array (``arr[0]``) and ``to_pylist`` do not import pandas.
``tests/test_pandas_free_workers.py`` checks that no package kernel maps
pandas into a worker.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# the one token separator: the Arrow tokenizers split on it, and so does
# the Catalyst ``textstats.tokens_col``
SEP = " "

# token_counts' slice bounds: the first slice's text bytes, and the growth
# factor while a slice's distinct tokens are under 1/_SLICE_GROWTH of them
_SLICE_BYTES = 1 << 20
_SLICE_GROWTH = 4


def _np_dtype(t: pa.DataType) -> np.dtype:
    if pa.types.is_floating(t):
        return np.dtype(f"f{t.bit_width // 8}")
    if pa.types.is_unsigned_integer(t):
        return np.dtype(f"u{t.bit_width // 8}")
    if pa.types.is_integer(t) or pa.types.is_temporal(t):
        return np.dtype(f"i{t.bit_width // 8}")
    raise TypeError(f"no fixed-width numpy view of {t}")


def _bits(buf: pa.Buffer, offset: int, n: int) -> np.ndarray:
    raw = np.frombuffer(buf, dtype=np.uint8, count=(offset + n + 7) // 8)
    return np.unpackbits(raw, count=offset + n,
                         bitorder="little")[offset:].view(bool)


def valid(arr: pa.Array) -> np.ndarray:
    """The validity of ``arr`` as a numpy bool array (True = not NULL)."""
    n = len(arr)
    bitmap = arr.buffers()[0]
    if arr.null_count == 0 or bitmap is None:
        return np.full(n, arr.null_count == 0)
    return _bits(bitmap, arr.offset, n)


def values(arr: pa.Array, dtype=None, *, null=None) -> np.ndarray:
    """The values of a fixed-width or boolean column as numpy: a read-only
    view of its data buffer, cast to ``dtype`` when given (a copy only if
    the type differs). NULL slots hold whatever the buffer holds unless
    ``null`` names a fill value."""
    n, off = len(arr), arr.offset
    buf = arr.buffers()[1]
    if pa.types.is_boolean(arr.type):
        out = _bits(buf, off, n) if n else np.zeros(0, dtype=bool)
    else:
        dt = _np_dtype(arr.type)
        out = (np.frombuffer(buf, dtype=dt, count=off + n)[off:] if n
               else np.zeros(0, dtype=dt))
    if dtype is not None:
        out = out.astype(dtype, copy=False)
    if null is not None and arr.null_count:
        out = np.where(valid(arr), out, null).astype(out.dtype, copy=False)
    return out


def offsets(arr: pa.Array) -> np.ndarray:
    """The ``len(arr) + 1`` offsets of a string, binary or list column: a
    read-only int32 view (int64 for the ``large_`` types) where row i
    spans ``[out[i], out[i + 1])`` of its data buffer (bytes for strings,
    child elements for lists)."""
    large = (pa.types.is_large_string(arr.type)
             or pa.types.is_large_binary(arr.type)
             or pa.types.is_large_list(arr.type))
    dtype = np.int64 if large else np.int32
    n, off = len(arr), arr.offset
    if n == 0:
        return np.zeros(1, dtype=dtype)
    return np.frombuffer(arr.buffers()[1], dtype=dtype,
                         count=off + n + 1)[off:]


def lengths(arr: pa.Array) -> np.ndarray:
    """Per-row int64 lengths of a string, binary or list column (bytes for
    strings, elements for lists), 0 for NULL rows."""
    out = np.diff(offsets(arr)).astype(np.int64, copy=False)
    if arr.null_count:
        out = np.where(valid(arr), out, 0)
    return out


_PA_OF = {np.dtype(np.int32): pa.int32(), np.dtype(np.int64): pa.int64(),
          np.dtype(np.float64): pa.float64(), np.dtype(bool): pa.bool_()}


def _validity(ok: np.ndarray | None):
    if ok is None or ok.all():
        return None, 0
    return (pa.py_buffer(np.packbits(ok, bitorder="little")),
            int(ok.size - np.count_nonzero(ok)))


def array(data: np.ndarray, type: pa.DataType | None = None, *,
          valid: np.ndarray | None = None) -> pa.Array:
    """A fixed-width or boolean Arrow array over the numpy array ``data``
    (zero-copy when it is contiguous and already of ``type``'s width);
    ``valid`` marks the non-NULL rows."""
    data = np.asarray(data)
    if type is None:
        type = _PA_OF[data.dtype]
    if pa.types.is_boolean(type):
        buf = pa.py_buffer(np.packbits(data.astype(bool, copy=False),
                                       bitorder="little"))
    else:
        buf = pa.py_buffer(np.ascontiguousarray(
            data.astype(_np_dtype(type), copy=False)))
    mask, nulls = _validity(valid)
    return pa.Array.from_buffers(type, len(data), [mask, buf],
                                 null_count=nulls)


def from_list(py_values, type: pa.DataType) -> pa.Array:
    """A Python sequence as an Arrow array of ``type`` (``None`` is NULL):
    string, binary, boolean, integer or floating types."""
    py_values = list(py_values)
    n = len(py_values)
    ok = np.fromiter((v is not None for v in py_values), dtype=bool, count=n)
    if pa.types.is_string(type) or pa.types.is_binary(type):
        raw = [b"" if v is None else v.encode() if isinstance(v, str)
               else bytes(v) for v in py_values]
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.fromiter(map(len, raw), dtype=np.int64, count=n),
                  out=offsets[1:])
        if offsets[-1] > np.iinfo(np.int32).max:
            raise ValueError(f"{offsets[-1]} bytes overflow {type} offsets")
        mask, nulls = _validity(ok)
        return pa.Array.from_buffers(
            type, n, [mask, pa.py_buffer(offsets.astype(np.int32)),
                      pa.py_buffer(b"".join(raw))], null_count=nulls)
    fill = False if pa.types.is_boolean(type) else 0
    dtype = bool if pa.types.is_boolean(type) else _np_dtype(type)
    data = np.array([fill if v is None else v for v in py_values], dtype=dtype)
    return array(data, type, valid=ok)


def batch(columns: dict, schema: pa.Schema) -> pa.RecordBatch:
    """A RecordBatch of ``schema`` from ``{name: column}``, where a column
    is a numpy array or a Python list."""
    arrays = []
    for field in schema:
        col = columns[field.name]
        arrays.append(array(col, field.type) if isinstance(col, np.ndarray)
                      else from_list(col, field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def token_counts(texts: pa.Array):
    """Yield ``(distinct tokens, int64 counts)`` for successive row slices
    of a string column: the non-empty pieces of ``split(text, SEP)``,
    collapsed with ``value_counts``. NULL texts have no tokens, and a slice
    with none yields nothing. Summed over the slices, the counts are the
    column's token counts.

    Slices are cut at row boundaries by text bytes, not rows, so the
    tokenizer's and ``value_counts``' transient memory follows string
    bytes. The first slice holds ``_SLICE_BYTES`` of text (or the one row
    that is longer). The next is ``_SLICE_GROWTH`` times larger while the
    current slice's distinct tokens are under ``1 / _SLICE_GROWTH`` of its
    tokens, since repetitive text collapses to few distinct rows and
    larger slices then save per-slice hashing and update work; otherwise
    it goes back to ``_SLICE_BYTES``.
    """
    import pyarrow.compute as pc

    offs = offsets(texts)
    budget, lo, n = _SLICE_BYTES, 0, len(texts)
    while lo < n:
        end = min(int(offs[lo]) + budget, int(offs[-1]))
        hi = max(int(np.searchsorted(offs, end, "right")) - 1, lo + 1)
        toks = pc.list_flatten(pc.split_pattern(texts.slice(lo, hi - lo), SEP))
        lo = hi
        tok_offs = offsets(toks)
        keep = tok_offs[1:] != tok_offs[:-1]  # non-empty: 1 byte per token
        if not keep.all():
            toks = toks.filter(array(keep))
        if len(toks) == 0:
            budget = _SLICE_BYTES
            continue
        vc = pc.value_counts(toks)
        vals, counts = vc.field("values"), values(vc.field("counts"), np.int64)
        repetitive = len(vals) * _SLICE_GROWTH < len(toks)
        del toks, vc  # free the tokens before the caller folds this slice
        yield vals, counts
        budget = budget * _SLICE_GROWTH if repetitive else _SLICE_BYTES


def doc_tokens(texts: pa.Array):
    """``(tokens, didx)``: the non-empty pieces of ``split(text, SEP)`` in
    row order, and the int64 row index of each (nondecreasing)."""
    import pyarrow.compute as pc

    lists = pc.split_pattern(texts, SEP)
    toks = pc.list_flatten(lists)
    didx = np.repeat(np.arange(len(lists), dtype=np.int64), lengths(lists))
    keep = lengths(toks) > 0
    if keep.all():
        return toks, didx
    return toks.filter(array(keep)), didx[keep]
