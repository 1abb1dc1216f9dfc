"""Application config: YAML file + environment-variable overrides.

Parity with the reference CLI's config surface
(/root/reference/src/vunnel/cli/config.py:157-235): a ``.vunnel_spark.yaml``
file supplies nested defaults, and ``VUNNEL_SPARK_*`` environment
variables override individual fields, env always winning.  Env var names
derive from the nested dataclass path:

    AppConfig.sf_dir                  -> VUNNEL_SPARK_SF_DIR
    AppConfig.show                    -> VUNNEL_SPARK_SHOW
    AppConfig.explain                 -> VUNNEL_SPARK_EXPLAIN
    AppConfig.spark.shuffle_partitions-> VUNNEL_SPARK_SPARK_SHUFFLE_PARTITIONS

Type coercion follows the field's annotation: bool accepts
true/yes/1/on (case-insensitive), int/float parse strictly, str assigns
directly; a malformed value raises ValueError naming the variable.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, fields, is_dataclass

_TRUTHY = {"true", "yes", "1", "on"}
_FALSY = {"false", "no", "0", "off"}


@dataclass
class SparkConfig:
    app_name: str = "vunnel_spark_cli"
    shuffle_partitions: int = 0  # 0 = leave the session factory's default


@dataclass
class AppConfig:
    sf_dir: str = "/root/testdata/sf0.001"
    show: int = 10
    explain: bool = False
    spark: SparkConfig = field(default_factory=SparkConfig)


def _parse_bool(value: str) -> bool:
    v = value.strip().lower()
    if v in _TRUTHY:
        return True
    if v in _FALSY:
        return False
    raise ValueError(f"not a boolean: {value!r}")


def _merge_dict(cfg, data: dict, path: str) -> None:
    """Apply a nested dict (parsed YAML) onto a dataclass instance.

    Unknown keys raise (a typo'd config key silently doing nothing is
    the worst failure mode a config file can have); scalar values are
    type-checked against the field annotation.
    """
    known = {f.name: f for f in fields(cfg)}
    for key, value in (data or {}).items():
        if key not in known:
            raise ValueError(f"unknown config key: {path}{key}")
        current = getattr(cfg, key)
        if is_dataclass(current):
            if not isinstance(value, dict):
                raise ValueError(f"{path}{key} must be a mapping")
            _merge_dict(current, value, f"{path}{key}.")
        else:
            want = type(current)
            if want is bool and not isinstance(value, bool):
                raise ValueError(f"{path}{key} must be a boolean")
            if want is int and (isinstance(value, bool) or not isinstance(value, int)):
                raise ValueError(f"{path}{key} must be an integer")
            if want is str and not isinstance(value, str):
                raise ValueError(f"{path}{key} must be a string")
            setattr(cfg, key, value)


def apply_env_overrides(obj, prefix: str = "VUNNEL_SPARK") -> None:
    """Recursively apply ``{prefix}_{FIELD}`` env overrides; nested
    dataclasses extend the prefix with their field name.  Env always
    wins over file values (call after ``_merge_dict``)."""
    for f in fields(obj):
        env_name = f"{prefix}_{f.name}".upper()
        current = getattr(obj, f.name)
        if is_dataclass(current):
            apply_env_overrides(current, env_name)
            continue
        if env_name not in os.environ:
            continue
        raw = os.environ[env_name]
        want = type(current)
        try:
            if want is bool:
                value = _parse_bool(raw)
            elif want is int:
                value = int(raw)
            elif want is float:
                value = float(raw)
            else:
                value = raw
        except ValueError as e:
            raise ValueError(
                f"invalid value for {env_name}: {raw!r} "
                f"(expected {want.__name__})"
            ) from e
        setattr(obj, f.name, value)


def load(path: str = ".vunnel_spark.yaml") -> AppConfig:
    """Build the effective config: dataclass defaults <- YAML file (if
    present) <- env overrides.  A missing file is fine; a malformed one
    is not."""
    import yaml

    cfg = AppConfig()
    try:
        with open(path, encoding="utf-8") as f:
            data = yaml.safe_load(f.read()) or {}
    except FileNotFoundError:
        data = {}
    except yaml.YAMLError as e:
        # normalize to ValueError so the CLI's single error path catches
        # malformed files too, not just wrong-typed values
        raise ValueError(f"malformed YAML in {path}: {e}") from e
    if not isinstance(data, dict):
        raise ValueError(f"config root must be a mapping: {path}")
    _merge_dict(cfg, data, "")
    apply_env_overrides(cfg)
    return cfg
