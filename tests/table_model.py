"""Plain-Python reference semantics for the versioned table: the
independent model that ManifestVersionedTable's MERGE and CDC results
are differential-tested against (rows are tuples whose first element is
the merge key)."""

from __future__ import annotations


def model_merge(rows, src):
    """Reference semantics of MERGE on a multiset with possible duplicate
    keys (appends create them): every target row whose key matches a
    source row is replaced by that source row; unmatched source rows are
    inserted once; NULL-key source rows never match and insert as-is."""
    by_key = {}
    for r in src:
        if r[0] is not None:
            by_key[r[0]] = r
    out = [by_key.get(r[0], r) if r[0] is not None else r for r in rows]
    matched = {r[0] for r in rows if r[0] is not None}
    out += [r for r in src if r[0] is None or r[0] not in matched]
    return out


def model_diff(pre, post):
    """Reference semantics of ``version_diff`` for snapshots with unique
    keys (NULL included, matched null-safely): each row gains a change
    type; an update yields its pre- and post-image, unchanged rows
    nothing."""
    a = {r[0]: r for r in pre}
    b = {r[0]: r for r in post}
    out = []
    for k in a.keys() | b.keys():
        if k not in a:
            out.append(b[k] + ("insert",))
        elif k not in b:
            out.append(a[k] + ("delete",))
        elif a[k] != b[k]:
            out.append(a[k] + ("update_preimage",))
            out.append(b[k] + ("update_postimage",))
    return out


def canon(rows):
    """Rows in one total order, NULLs first in every column."""
    return sorted(
        (tuple(r) for r in rows),
        key=lambda t: tuple((v is not None, v) for v in t),
    )
