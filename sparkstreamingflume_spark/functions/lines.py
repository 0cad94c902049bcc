"""Delimited-line scalar operators (the DesenPross library, Spark-first).

The reference applies these per record inside ``map`` closures
(reference src/DesenPross.scala); here each is a Catalyst column expression
over the split array, so the whole chain stays inside whole-stage codegen
and is applied column-at-a-time by Tungsten. One ``split`` is shared by all
downstream ops on the same line (the reference recomputed the split up to
3x per field — src/DesenPross.scala:128-134; Catalyst's common-subexpression
elimination makes that a non-issue here).

Mapping (SURVEY.md §2.2):
  P3  field_extract   colRey           src/DesenPross.scala:53-64
  P4  mask_fields     strRen           src/DesenPross.scala:94-115
  P5  mask_fields     strRens          src/DesenPross.scala:146-153
  P6  drop_fields     strReplace       src/DesenPross.scala:123-142
  P7  drop_fields     strReplaces      src/DesenPross.scala:157-165
  P8  project_fields  processData      src/DesenPross.scala:167-176
  P9  dirty_filter    length guard     src/ProcessSums.scala:435
  P10 F.md5           MD5.toDigest     src/MD5.java:24-33
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

ERROR_SENTINEL = "ERROR"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def line_fields(line: Column | str, sep: str = "|") -> Column:
    """Split a delimited line into its field array (shared by all ops).

    Matches Java/Scala ``split(sep, 0)`` semantics — trailing empty fields
    are dropped (the reference's GPRS sample line ends in ``|`` and still
    splits to 44 fields, src/DesenPross.scala:181). Spark's ``split`` uses
    limit=-1 (keeps trailing empties), so we strip the trailing separator
    run first, with ``rtrim(line, sep)``: a compiled character trim, no
    regex per row. It is exact because ``sep`` is one character (the
    trim set is that character alone) and a trim only removes the run at
    the end of input. A CR/CRLF-terminated record (``'a|b|\\r'`` — the
    normal case for a CDR feed read off FTP/socket) ends in ``\\r``, so
    nothing is stripped and ``\\r`` stays its own field, as in Scala
    ``split`` (a Java-regex ``<sep>+$`` strip would be wrong here: ``$``
    also matches before a final line terminator, deleting the ``|`` and
    merging ``\\r`` into the prior field). DuckDB oracles apply
    ``regexp_replace(line, '<sep>+$', '')`` — RE2's ``$`` is already
    end-of-text, so both engines implement the same semantics.
    """
    if len(sep) != 1:
        raise ValueError(f"line_fields needs a one-character separator, got {sep!r}")
    return F.split(F.rtrim(_col(line), F.lit(sep)), re.escape(sep))


# The *_arr forms take an ALREADY-SPLIT field array instead of the raw
# line. Query builders stage the split once (functions/barrier.py
# stage_columns) and feed the staged column here: Catalyst's
# subexpression elimination does NOT hoist a split referenced from
# under CASE WHEN branches (conditional subexpressions are excluded
# from CSE), so the line-based forms re-evaluated the split per field
# reference. Round-13 measurements at sf0.1: q_project_44to10 3.38 ->
# 0.80 s med (11 splits -> 1, plans/r13), q_dirty_filter 5.30 -> 0.82
# (here the win is PLACEMENT: the bare width filter was pushed below
# the widen exchange onto the single narrow scan task — the anchored
# staged filter stays above it), q_field_extract 1.25 -> 0.86
# interleaved A/B (2 splits -> 1). The single-reference mask/drop ops
# measure ~neutral under staging (mask1 1.35 -> 1.16, mask3 1.30 ->
# 1.28 A/B — transform() already referenced the split once); they use
# the staged form anyway for uniformity of the family's plan shape.
# The line-based forms remain for one-shot use and tests.


def field_extract_arr(arr: Column, index: int) -> Column:
    """P3 over a staged field array — see :func:`field_extract`."""
    return F.when(F.size(arr) > index, arr[index]).otherwise(F.lit(ERROR_SENTINEL))


def field_extract(line: Column | str, index: int, sep: str = "|") -> Column:
    """P3 — field at ``index`` (0-based); out of range -> ``'ERROR'``.

    The reference's real out-of-range guard is the exception handler
    returning "ERROR" (src/DesenPross.scala:59-63; its explicit check has
    an off-by-one, SURVEY.md §2.8) — we implement the *effective* behavior:
    ``size(arr) > index ? arr[index] : 'ERROR'``.
    """
    return field_extract_arr(line_fields(line, sep), index)


def mask_fields(line: Column | str, indices: Iterable[int], sep: str = "|") -> Column:
    """P4/P5 — replace each field in ``indices`` with its MD5 hex digest.

    Spark's ``md5()`` is byte-identical to the reference's from-scratch
    RFC-1321 implementation for UTF-8 input (src/MD5.java:163-284). A
    single indexed ``transform`` replaces the reference's fold of repeated
    split/rebuild passes (src/DesenPross.scala:146-153).
    """
    return mask_fields_arr(line_fields(line, sep), indices, sep)


def mask_fields_arr(arr: Column, indices: Iterable[int], sep: str = "|") -> Column:
    """P4/P5 over a staged field array — see :func:`mask_fields`."""
    idx = list(indices)
    masked = F.transform(arr, lambda x, i: F.when(i.isin(idx), F.md5(x)).otherwise(x))
    return F.array_join(masked, sep)


def drop_fields(line: Column | str, indices: Iterable[int], sep: str = "|") -> Column:
    """P6/P7 — remove the fields at ``indices``, re-join the rest.

    Single-pass index-set filter; the reference's descending-index shift
    compensation (src/DesenPross.scala:162, SURVEY.md §2.8) is unnecessary
    when all drops happen in one pass.
    """
    return drop_fields_arr(line_fields(line, sep), indices, sep)


def drop_fields_arr(arr: Column, indices: Iterable[int], sep: str = "|") -> Column:
    """P6/P7 over a staged field array — see :func:`drop_fields`."""
    idx = list(indices)
    kept = F.filter(arr, lambda x, i: ~i.isin(idx))
    return F.array_join(kept, sep)


def project_fields(
    line: Column | str, indices: Iterable[int], sep: str = "|", n_fields: int | None = None
) -> Column:
    """P8 — re-join the selected fields in the given order (``processData``
    emits fields 0,7,17,1,2,32,33,36,22,43 of a 44-field line,
    src/DesenPross.scala:172-173).

    Total like the reference: ``processData`` returns ``""`` for lines that
    are not exactly ``n_fields`` wide (src/DesenPross.scala:167-176) rather
    than throwing. ``F.get`` is NULL-safe out of range (plain ``arr[i]``
    raises under Spark 4 ANSI mode), and the width guard makes short lines
    map to the empty string.
    """
    return project_fields_arr(line_fields(line, sep), indices, sep, n_fields)


def project_fields_arr(
    arr: Column, indices: Iterable[int], sep: str = "|", n_fields: int | None = None
) -> Column:
    """P8 over a staged field array — see :func:`project_fields`."""
    idx = list(indices)
    projected = F.concat_ws(sep, *[F.get(arr, i) for i in idx])
    guard = F.size(arr) == n_fields if n_fields is not None else F.size(arr) > max(idx)
    return F.when(guard, projected).otherwise(F.lit(""))


def dirty_filter(line: Column | str, n_fields: int, sep: str = "|") -> Column:
    """P9 — boolean: split length equals the schema's expected count
    (src/ProcessSums.scala:435 via Process.line_length)."""
    return F.size(line_fields(line, sep)) == n_fields
