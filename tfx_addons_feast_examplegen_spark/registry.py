"""Feature registry: views, services, and their YAML serialization.

Rebuilds the reference's registry surface natively:

- The reference ships a Feast ``RepoConfig`` as a YAML string inside the
  component config (``component.py:67-79``) and reloads it into a
  ``feast.FeatureStore`` in the executor (``executor.py:53-58``). Here the
  registry is a plain dataclass catalog serialized to/from YAML (or a dict).
- A **feature view** (Feast feature table, resolved at ``executor.py:87``)
  is a physical parquet table + join keys + event-time column + optional
  created-time column, TTL, and field mapping (``field_mapping`` rename
  semantics, SURVEY.md P3).
- A **feature reference** is a string ``"view:feature"`` selecting one
  column (``component.py:80-91``); a **feature service** is a named stored
  list of references (``component.py:92-97``, ``executor.py:77-83``).

No Feast dependency: YAML parsing uses a vendored-free ``yaml`` import if
present, else a JSON fallback (the registry format is JSON-compatible).
"""

from __future__ import annotations

import json
import os
from dataclasses import MISSING, dataclass, field, fields

try:  # pyyaml is commonly available with pyspark images but not guaranteed
    import yaml  # type: ignore

    _HAVE_YAML = True
except Exception:  # pragma: no cover
    _HAVE_YAML = False


class RegistryError(ValueError):
    """Invalid registry config or unresolvable reference.

    Mirrors the reference's validation raises (``component.py:98-102``,
    ``executor.py:80-85`` — SURVEY.md P5).
    """


# The table formats ``FeatureView.read`` dispatches on.
_FORMATS = ("parquet", "csv", "json", "orc")


@dataclass(frozen=True)
class FeatureView:
    """An event-time-versioned feature table.

    Attributes mirror the Feast view fields the reference's join consumes
    (``executor.py:87`` [delegated]): entity join keys, event/created
    timestamp columns, TTL seconds (0/None = unbounded), and an optional
    source-column -> feature-name rename map (``field_mapping``).

    A view does not choose its physical as-of join: ``materialize_features``
    picks pair, time_bucketed or union_window from the table's per-key
    history depth and the view's TTL (``operators/pit_join.py``). Views
    sharing one table share its read and its depth probe.
    """

    name: str
    path: str  # table path, possibly with {sf_dir} placeholder
    entities: tuple[str, ...]  # entity join key column(s)
    timestamp_col: str  # event_timestamp column in the table
    features: tuple[str, ...]  # selectable feature columns (post-mapping)
    created_col: str | None = None  # tie-break column (created_timestamp)
    ttl_seconds: int | None = None  # None/0 = no TTL bound
    field_mapping: dict[str, str] = field(default_factory=dict)  # src -> feature
    format: str = "parquet"  # parquet | csv | json | orc

    def read(self, spark, sf_dir: str):
        """Load the physical table (format-dispatched; CSV/JSON get
        header+schema inference — at scale, declare schemas instead).
        Time columns come back as stored; ``materialize_features``
        normalizes them."""
        path = self.resolve_path(sf_dir)
        if self.format == "parquet":
            return spark.read.parquet(path)
        if self.format == "csv":
            return spark.read.option("header", "true").option(
                "inferSchema", "true"
            ).csv(path)
        if self.format == "json":
            return spark.read.json(path)
        if self.format == "orc":
            return spark.read.orc(path)
        raise RegistryError(f"unsupported view format: {self.format!r}")

    def resolve_path(self, sf_dir: str) -> str:
        if "{sf_dir}" in self.path:
            return self.path.format(sf_dir=sf_dir)
        if os.path.isabs(self.path):
            return self.path
        return os.path.join(sf_dir, self.path)


@dataclass(frozen=True)
class FeatureService:
    """A named, registry-stored bundle of feature references."""

    name: str
    features: tuple[str, ...]  # each "view:feature"


@dataclass
class Registry:
    """Catalog mapping view/service names to definitions.

    Plays the role of ``feast.FeatureStore``'s registry, loaded from a YAML
    string exactly as the reference round-trips it
    (``component.py:67-73`` write, ``executor.py:53-58`` load).
    """

    views: dict[str, FeatureView] = field(default_factory=dict)
    services: dict[str, FeatureService] = field(default_factory=dict)

    # ---------------- construction ----------------

    @classmethod
    def from_dict(cls, cfg: dict) -> "Registry":
        """Build from a config mapping. An unknown key at any level, a
        missing required view or service key, a view's ``entities`` or
        ``features`` given as a bare string or an empty list, a
        ``ttl_seconds`` that is not None or a non-negative int (a bool
        included), or a ``format`` outside parquet, csv, json and orc
        raises ``RegistryError`` naming the view and the key (a misspelt
        ``ttl_seconds`` would otherwise load as no TTL, ``"user_id"`` as
        seven one-letter keys, and ``ttl_seconds: "7d"`` would fail only
        inside the join, after its first Spark jobs)."""
        unknown = sorted(set(cfg) - {"views", "services"})
        if unknown:
            raise RegistryError(
                f"registry: unknown top-level key(s) {unknown} "
                "(known: ['services', 'views'])"
            )
        views: dict[str, FeatureView] = {}
        for v in cfg.get("views", []):
            _check_keys("view", v, FeatureView)
            for key in ("entities", "features"):
                if isinstance(v[key], str) or not v[key]:
                    raise RegistryError(
                        f"view {v['name']!r}: {key!r} must be a non-empty "
                        f"list, got {v[key]!r}"
                    )
            ttl = v.get("ttl_seconds")
            if ttl is not None and (type(ttl) is not int or ttl < 0):
                raise RegistryError(
                    f"view {v['name']!r}: 'ttl_seconds' must be None or a "
                    f"non-negative int, got {ttl!r}"
                )
            if v.get("format", "parquet") not in _FORMATS:
                raise RegistryError(
                    f"view {v['name']!r}: 'format' must be one of "
                    f"{list(_FORMATS)}, got {v['format']!r}"
                )
            fv = FeatureView(
                name=v["name"],
                path=v["path"],
                entities=tuple(v["entities"]),
                timestamp_col=v["timestamp_col"],
                features=tuple(v["features"]),
                created_col=v.get("created_col"),
                ttl_seconds=v.get("ttl_seconds"),
                field_mapping=dict(v.get("field_mapping", {})),
                format=v.get("format", "parquet"),
            )
            views[fv.name] = fv
        services: dict[str, FeatureService] = {}
        for s in cfg.get("services", []):
            _check_keys("service", s, FeatureService)
            fs = FeatureService(name=s["name"], features=tuple(s["features"]))
            services[fs.name] = fs
        return cls(views=views, services=services)

    @classmethod
    def from_yaml(cls, text: str) -> "Registry":
        if _HAVE_YAML:
            cfg = yaml.safe_load(text)
        else:
            cfg = json.loads(text)  # registry format is JSON-compatible
        if not isinstance(cfg, dict):
            raise RegistryError("registry config must be a mapping")
        return cls.from_dict(cfg)

    def to_yaml(self) -> str:
        cfg = {
            "views": [
                {
                    "name": v.name,
                    "path": v.path,
                    "entities": list(v.entities),
                    "timestamp_col": v.timestamp_col,
                    "features": list(v.features),
                    "created_col": v.created_col,
                    "ttl_seconds": v.ttl_seconds,
                    "field_mapping": dict(v.field_mapping),
                    "format": v.format,
                }
                for v in self.views.values()
            ],
            "services": [
                {"name": s.name, "features": list(s.features)}
                for s in self.services.values()
            ],
        }
        if _HAVE_YAML:
            return yaml.safe_dump(cfg, sort_keys=False)
        return json.dumps(cfg, indent=2)

    # ---------------- resolution (SURVEY.md P1/P2/P5) ----------------

    def resolve_features(
        self, features: list[str] | str
    ) -> dict[str, list[str]]:
        """Resolve refs or a service name to ``{view: [feature, ...]}``.

        - list of "view:feature" strings -> grouped per view, order kept
        - str -> feature-service lookup (``executor.py:77-83``)
        - anything else / unknown names -> RegistryError (P5 validation,
          mirroring ``component.py:98-102``).
        """
        if isinstance(features, str):
            svc = self.services.get(features)
            if svc is None:
                raise RegistryError(f"unknown feature service: {features!r}")
            refs = list(svc.features)
        elif isinstance(features, (list, tuple)):
            refs = list(features)
        else:
            raise RegistryError(
                "features must be a list of 'view:feature' refs or a "
                f"feature-service name, got {type(features).__name__}"
            )

        out: dict[str, list[str]] = {}
        for ref in refs:
            if ":" not in ref:
                raise RegistryError(
                    f"feature reference {ref!r} must be 'view:feature'"
                )
            view_name, feat = ref.split(":", 1)
            view = self.views.get(view_name)
            if view is None:
                raise RegistryError(f"unknown feature view: {view_name!r}")
            if feat not in view.features:
                raise RegistryError(
                    f"unknown feature {feat!r} in view {view_name!r}"
                )
            out.setdefault(view_name, [])
            if feat not in out[view_name]:
                out[view_name].append(feat)
        return out


def _check_keys(kind: str, cfg: dict, cls) -> None:
    """Raise ``RegistryError`` naming the entry and the key when ``cfg``
    has a key that is no field of ``cls``, or lacks a field with no
    default."""
    known = {f.name: f for f in fields(cls)}
    where = f"{kind} {cfg.get('name', '<unnamed>')!r}"
    unknown = sorted(set(cfg) - set(known))
    if unknown:
        raise RegistryError(
            f"{where}: unknown key(s) {unknown} (known: {sorted(known)})"
        )
    missing = [
        k for k, f in known.items()
        if k not in cfg and f.default is MISSING
        and f.default_factory is MISSING
    ]
    if missing:
        raise RegistryError(f"{where}: missing required key(s) {missing}")


def testdata_registry() -> Registry:
    """The default registry over the driver's fixture tables.

    Mirrors FIXTURES.md's Feast-role mapping: ``events`` is the canonical
    feature view keyed by ``user_id`` with event time ``ts`` and tie-break
    ``event_id``; ``order_features`` is a second view for multi-view joins
    (SURVEY.md J5).
    """
    return Registry(
        views={
            "user_events": FeatureView(
                name="user_events",
                path="events.parquet",
                entities=("user_id",),
                timestamp_col="ts",
                features=("value", "event_type", "props"),
                created_col="event_id",
                ttl_seconds=None,
            ),
            "user_events_7d": FeatureView(
                name="user_events_7d",
                path="events.parquet",
                entities=("user_id",),
                timestamp_col="ts",
                features=("value", "event_type"),
                created_col="event_id",
                ttl_seconds=7 * 24 * 3600,
            ),
            "user_type_events": FeatureView(
                # Composite entity key (SURVEY.md J4 breadth): Feast views
                # routinely join on multiple entities (executor.py:87
                # [delegated]); this view keys events on (user, type).
                name="user_type_events",
                path="events.parquet",
                entities=("user_id", "event_type"),
                timestamp_col="ts",
                features=("value",),
                created_col="event_id",
                ttl_seconds=None,
            ),
            "user_events_renamed": FeatureView(
                # field_mapping rename path (SURVEY.md P3): source column
                # `value` surfaces as feature `activity_value`.
                name="user_events_renamed",
                path="events.parquet",
                entities=("user_id",),
                timestamp_col="ts",
                features=("activity_value", "event_type"),
                created_col="event_id",
                ttl_seconds=None,
                field_mapping={"value": "activity_value"},
            ),
            "customer_profile": FeatureView(
                name="customer_profile",
                path="customer.parquet",
                entities=("c_custkey",),
                timestamp_col="",  # static dimension view (no event time)
                features=("c_acctbal", "c_mktsegment", "c_nationkey"),
            ),
        },
        services={
            "user_activity": FeatureService(
                name="user_activity",
                features=("user_events:value", "user_events:event_type"),
            ),
        },
    )
