"""Schema registry — driver-side dict of schemas keyed by id, with
mtime-based incremental directory loading.

Re-expresses the reference's ETS registry
(`/root/reference/src/jesse_database.erl:45,112-128,137-141`) and
``load_schemas`` lifecycle (`jesse.erl:86-115`,
`jesse_database.erl:154-220`): add validates the schema is an object,
directory loads key each file by its ``id`` field (missing id ⇒ error,
`jesse_lib.erl:46-50`) and skip files whose mtime hasn't changed.

On Spark the registry lives on the driver; compiled plans derived from it
ship to executors inside task closures / broadcasts — executors never call
back (SURVEY.md §3.4).
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any, Callable, Optional

from .errors import SchemaNotFound


class SchemaRegistry:
    def __init__(self) -> None:
        self._schemas: dict[str, Any] = {}
        self._mtimes: dict[str, float] = {}  # source file → mtime
        # mutation counter; ``fingerprint`` recomputes only when it moves
        self._rev: int = 0
        self._fingerprint: tuple[int, str] = (-1, "")

    def add(self, key: str, schema: Any) -> None:
        """Upsert. ``schema`` may be a dict or a JSON string."""
        if isinstance(schema, (str, bytes)):
            schema = json.loads(schema)
        if not isinstance(schema, dict):
            raise ValueError(f"schema for {key!r} must be a JSON object")
        self._schemas[key] = schema
        self._rev += 1

    def read(self, key: str) -> Any:
        try:
            return self._schemas[key]
        except KeyError:
            raise SchemaNotFound(key) from None

    def delete(self, key: str) -> None:
        self._schemas.pop(key, None)
        self._rev += 1

    def fingerprint(self) -> str:
        """Hash of every registered schema. Part of the engine's
        compiled-plan key (engine.py ``_PLAN_CACHE``): equal registries
        share plans, and a registry whose ``$ref`` targets differ never
        gets a plan compiled against another's."""
        rev, fp = self._fingerprint
        if rev != self._rev:
            blob = json.dumps(self._schemas, sort_keys=True, default=str)
            fp = hashlib.sha256(blob.encode()).hexdigest()
            self._fingerprint = (self._rev, fp)
        return fp

    def __contains__(self, key: str) -> bool:
        return key in self._schemas

    def keys(self) -> list[str]:
        return sorted(self._schemas)

    def load_dir(self, path: str,
                 make_key: Optional[Callable[[Any, str], str]] = None,
                 validate_fn: Optional[Callable[[Any], bool]] = None,
                 ) -> list[tuple[str, str]]:
        """Load every ``*.json`` under ``path``; key by the schema's ``id``
        (or ``make_key(schema, filename)``). Files whose mtime is unchanged
        since the last load are skipped. Returns [(file, error)] failures.

        ``validate_fn`` is jesse's ``load_schemas`` ValidationFun
        (`jesse.erl:86-115`): called with each parsed schema; a falsy
        return (or an exception) records the file as failed instead of
        registering it."""
        failures: list[tuple[str, str]] = []
        for name in sorted(os.listdir(path)):
            if not name.endswith(".json"):
                continue
            full = os.path.join(path, name)
            mtime = os.path.getmtime(full)
            if self._mtimes.get(full) == mtime:
                continue
            try:
                with open(full, encoding="utf-8") as fh:
                    schema = json.load(fh)
                if validate_fn is not None and not validate_fn(schema):
                    raise ValueError("validation_fun rejected schema")
                if make_key is not None:
                    key = make_key(schema, name)
                else:
                    key = schema.get("id") if isinstance(schema, dict) else None
                    if not key:
                        raise ValueError("missing_id_field")
                self.add(key, schema)
                self._mtimes[full] = mtime
            except Exception as exc:  # collect, don't abort — parity
                failures.append((full, str(exc)))
        return failures
