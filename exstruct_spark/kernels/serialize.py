"""Canonical compact JSON serialization.

Behavioural parity with the reference's token-budget serializer:
recursive empty-value stripping (``io/__init__.py:92-128``
``dict_without_empty_values``) followed by compact
``json.dumps(ensure_ascii=False)`` (``io/serialize.py:70-73``).

Byte-identity contract: serialization happens INSIDE the extraction
kernel, before any Arrow round-trip, so int-vs-float distinctions and
unicode bytes survive untouched (SURVEY.md §7.4).
"""

from __future__ import annotations

import hashlib
import json
from typing import Any


def strip_empty(value: Any) -> Any:
    """Recursively drop ``None``/``""``/``[]``/``{}`` members.

    Parity: reference ``dict_without_empty_values`` (io/__init__.py:92-128)
    — dicts lose empty-valued keys, lists lose empty elements, recursion
    applies bottom-up so a dict that becomes empty is itself dropped by the
    caller one level up.  ``0``/``0.0``/``False`` are NOT empty.
    """
    # per-child logic INLINED into both loops (was a _strip_child helper:
    # ~75 calls/doc measured) — exact-type fast path for the dominant
    # builtin cases, isinstance fallback so dict/list/str SUBCLASSES keep
    # the original semantics (recursed / dropped-when-empty) instead of
    # silently passing through; byte-identical output (unit + hypothesis
    # fixpoint tests)
    if isinstance(value, dict):
        out = {}
        for k, v in value.items():
            tv = type(v)
            if tv is str:
                if v:
                    out[k] = v
            elif tv is dict or tv is list or tv is tuple:
                v = strip_empty(v)
                if v:
                    out[k] = v
            elif v is None:
                pass
            elif isinstance(v, (dict, list, tuple)):
                v = strip_empty(v)
                if v:
                    out[k] = v
            elif isinstance(v, str):
                if v:
                    out[k] = v
            else:
                out[k] = v
        return out
    if isinstance(value, (list, tuple)):
        out_l = []
        add = out_l.append
        for v in value:
            tv = type(v)
            if tv is str:
                if v:
                    add(v)
            elif tv is dict or tv is list or tv is tuple:
                v = strip_empty(v)
                if v:
                    add(v)
            elif v is None:
                pass
            elif isinstance(v, (dict, list, tuple)):
                v = strip_empty(v)
                if v:
                    add(v)
            elif isinstance(v, str):
                if v:
                    add(v)
            else:
                add(v)
        return out_l
    return value


def canonical_json(value: Any) -> str:
    """Compact, non-ASCII-preserving JSON with empty values stripped.

    ``separators=(",", ":")`` + ``ensure_ascii=False`` matches the
    reference's compact emitter (io/serialize.py:70-73).  Key order is
    insertion order (deterministic by construction in the kernels).
    """
    return json.dumps(strip_empty(value), ensure_ascii=False, separators=(",", ":"))


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def canonical_yaml(value: Any) -> str:
    """YAML document with the reference's dump settings — safe_dump,
    allow_unicode, insertion key order, indent 2 (io/serialize.py:74-83).
    Empty values are stripped first, same as the JSON emitter.  Gated on
    pyyaml like the reference's ``_require_yaml`` (io/serialize.py:99)."""
    try:
        import yaml
    except ImportError as exc:  # pragma: no cover — pyyaml present in env
        raise RuntimeError(
            "YAML export requires pyyaml (reference gates identically: "
            "io/serialize.py:99)"
        ) from exc
    return str(
        yaml.safe_dump(
            strip_empty(value), allow_unicode=True, sort_keys=False, indent=2
        )
    )
