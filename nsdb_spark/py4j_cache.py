"""Driver-side py4j reflection caches (guide §1.2(2): per-call work).

Measured on this host (round 9): a localhost TCP round trip is ~45 µs,
a py4j method call ~85 µs — but `F.lit(1)` cost ~1000 µs and a Column
binop ~2100 µs, because PySpark re-resolves JVM names through py4j's
reflection protocol on every call:

- ``JVMView.__getattr__`` (e.g. ``_jvm.functions`` or any FQN) sends a
  REFL_GET_UNKNOWN command per access — the JVM side walks the view's
  imports and tries ``Class.forName`` per candidate (each miss raising
  and swallowing ClassNotFoundException), ~170-340 µs.
- ``JavaClass.__getattr__`` (e.g. ``functions.lit``) sends a
  REFL_GET_MEMBER command per access, ~140 µs, even though the returned
  static JavaMember is stateless and reusable.

Both resolutions are pure functions of (gateway, name) for the life of
the JVM, so memoizing them is safe:

- only JavaClass / static JavaMember results are cached — static FIELD
  reads (which return the current value) and JavaPackage results (whose
  meaning can change when a later ``java_import`` adds a matching
  class) are never cached;
- keys carry ``id(gateway_client)`` so a restarted JVM/gateway starts
  cold instead of serving stale handles, and the caches hold one
  gateway client at a time: a lookup through a client whose ``id``
  differs from the cached one empties both dicts first, so they never
  grow past one gateway's names.

A cached handle keeps its gateway client alive (a JavaMember or
JavaClass holds a reference to it), so a replaced client is not freed
until the next lookup through the new one empties the caches. The same
reference keeps the cached ``id`` from being reused by another client
while entries for it remain.

With this + ``spark.python.sql.dataFrameDebugging.enabled=false`` (see
session.py), ``F.lit`` drops ~1000→170 µs and a Column binop ~2100→160
µs — the expression-tree build time that dominates the driver cost of
short queries (tests, point serves, bench build phases) shrinks 2-10×.

The known trade-off (documented, accepted): a cached unqualified
JVMView name resolved BEFORE a later ``java_import`` would keep its
original binding if that import makes the name ambiguous. PySpark
performs all its java_imports during gateway launch, before any user
expression is built, and this library never calls java_import at
runtime.
"""
from __future__ import annotations

from py4j import java_gateway as _jg

_installed = False
_class_member_cache: dict = {}
_view_class_cache: dict = {}
#: id() of the gateway client whose handles the caches hold
_client_id: int | None = None


def _cached(cache: dict, key: tuple, client, resolve, keep: tuple):
    """cache[key], else resolve() — stored when it is one of the `keep`
    types. A `client` other than the cached one empties both caches
    first (see the module docstring)."""
    global _client_id
    cid = id(client)
    if cid != _client_id:
        _class_member_cache.clear()
        _view_class_cache.clear()
        _client_id = cid
    key += (cid,)
    hit = cache.get(key)
    if hit is not None:
        return hit
    v = resolve()
    if isinstance(v, keep):
        cache[key] = v
    return v


def install() -> None:
    """Idempotently install the reflection caches process-wide."""
    global _installed
    if _installed:
        return
    _installed = True

    jc_orig = _jg.JavaClass.__getattr__
    jv_orig = _jg.JVMView.__getattr__

    def jc_getattr(self, name):
        # JavaMember (static method) and JavaClass (nested class) are
        # stateless handles; a static *field* access returns its current
        # value and must never be cached
        return _cached(
            _class_member_cache, (self._fqn, name), self._gateway_client,
            lambda: jc_orig(self, name), (_jg.JavaMember, _jg.JavaClass),
        )

    def jv_getattr(self, name):
        # cache resolved classes only — JavaPackage resolution can
        # legitimately change after a later java_import
        return _cached(
            _view_class_cache, (self._id, name), self._gateway_client,
            lambda: jv_orig(self, name), (_jg.JavaClass,),
        )

    _jg.JavaClass.__getattr__ = jc_getattr
    _jg.JVMView.__getattr__ = jv_getattr
