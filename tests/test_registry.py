import pytest

from tfx_addons_feast_examplegen_spark.registry import (
    FeatureService,
    FeatureView,
    Registry,
    RegistryError,
    testdata_registry as _testdata_registry,
)


def _reg():
    return _testdata_registry()


def test_resolve_refs_groups_by_view():
    out = _reg().resolve_features(
        ["user_events:value", "user_events:event_type", "customer_profile:c_acctbal"]
    )
    assert out == {
        "user_events": ["value", "event_type"],
        "customer_profile": ["c_acctbal"],
    }


def test_resolve_service():
    out = _reg().resolve_features("user_activity")
    assert out == {"user_events": ["value", "event_type"]}


def test_resolve_dedups_repeated_refs():
    out = _reg().resolve_features(["user_events:value", "user_events:value"])
    assert out == {"user_events": ["value"]}


@pytest.mark.parametrize(
    "features",
    [
        ["nope:value"],  # unknown view
        ["user_events:bogus"],  # unknown feature
        ["malformed_no_colon"],  # bad ref syntax
        "no_such_service",  # unknown service
        42,  # wrong type (component.py:98-102 analog)
    ],
)
def test_resolution_errors(features):
    with pytest.raises(RegistryError):
        _reg().resolve_features(features)


def test_yaml_roundtrip():
    reg = _reg()
    text = reg.to_yaml()
    back = Registry.from_yaml(text)
    assert set(back.views) == set(reg.views)
    assert set(back.services) == set(reg.services)
    v, b = reg.views["user_events_7d"], back.views["user_events_7d"]
    assert (b.entities, b.timestamp_col, b.created_col, b.ttl_seconds) == (
        v.entities,
        v.timestamp_col,
        v.created_col,
        v.ttl_seconds,
    )


def test_view_path_resolution():
    v = FeatureView(
        name="x", path="events.parquet", entities=("u",),
        timestamp_col="ts", features=("f",),
    )
    assert v.resolve_path("/data/sf1") == "/data/sf1/events.parquet"
    v2 = FeatureView(
        name="x", path="/abs/events.parquet", entities=("u",),
        timestamp_col="ts", features=("f",),
    )
    assert v2.resolve_path("/data/sf1") == "/abs/events.parquet"


def test_service_dataclass():
    s = FeatureService(name="s", features=("v:f",))
    assert s.features == ("v:f",)


_VIEW = {
    "name": "ev", "path": "events.parquet", "entities": ["user_id"],
    "timestamp_col": "ts", "features": ["value"],
}


@pytest.mark.parametrize(
    "cfg,match",
    [
        # a misspelt TTL would load as an unbounded one
        ({"views": [{**_VIEW, "ttl_second": 60}]},
         r"view 'ev': unknown key\(s\) \['ttl_second'\]"),
        # the deleted per-view strategy pin
        ({"views": [{**_VIEW, "strategy": "pair"}]},
         r"view 'ev': unknown key\(s\) \['strategy'\]"),
        ({"views": [{k: v for k, v in _VIEW.items() if k != "entities"}]},
         r"view 'ev': missing required key\(s\) \['entities'\]"),
        ({"services": [{"name": "svc", "features": [], "owner": "x"}]},
         r"service 'svc': unknown key\(s\) \['owner'\]"),
        ({"views": [_VIEW], "service": []},
         r"registry: unknown top-level key\(s\) \['service'\]"),
        # a bare string would load as one-letter keys or features
        ({"views": [{**_VIEW, "entities": "user_id"}]},
         r"view 'ev': 'entities' must be a non-empty list, got 'user_id'"),
        ({"views": [{**_VIEW, "features": "amount"}]},
         r"view 'ev': 'features' must be a non-empty list, got 'amount'"),
        ({"views": [{**_VIEW, "entities": []}]},
         r"view 'ev': 'entities' must be a non-empty list, got \[\]"),
        ({"views": [{**_VIEW, "features": []}]},
         r"view 'ev': 'features' must be a non-empty list, got \[\]"),
        # a TTL the join cannot apply would fail only after its first jobs
        ({"views": [{**_VIEW, "ttl_seconds": "7d"}]},
         r"view 'ev': 'ttl_seconds' must be None or a non-negative int, "
         r"got '7d'"),
        ({"views": [{**_VIEW, "ttl_seconds": -1}]},
         r"view 'ev': 'ttl_seconds' must be None or a non-negative int, "
         r"got -1"),
        ({"views": [{**_VIEW, "ttl_seconds": True}]},
         r"view 'ev': 'ttl_seconds' must be None or a non-negative int, "
         r"got True"),
        ({"views": [{**_VIEW, "ttl_seconds": 0.5}]},
         r"view 'ev': 'ttl_seconds' must be None or a non-negative int, "
         r"got 0.5"),
        ({"views": [{**_VIEW, "format": "delta"}]},
         r"view 'ev': 'format' must be one of \['parquet', 'csv', 'json', "
         r"'orc'\], got 'delta'"),
    ],
)
def test_from_dict_rejects_unknown_and_missing_keys(cfg, match):
    with pytest.raises(RegistryError, match=match):
        Registry.from_dict(cfg)
