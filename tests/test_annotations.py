"""Every annotation in the library resolves. ``from __future__ import
annotations`` keeps annotations as strings, so a name missing from a
module's imports only shows when something asks for the hints."""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import typing

import ocr_system_spark


def _library_functions():
    for info in pkgutil.walk_packages(ocr_system_spark.__path__,
                                      "ocr_system_spark."):
        mod = importlib.import_module(info.name)
        for name, obj in vars(mod).items():
            if getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                yield f"{mod.__name__}.{name}", obj
            elif inspect.isclass(obj):
                for attr, fn in vars(obj).items():
                    if inspect.isfunction(fn):
                        yield f"{mod.__name__}.{name}.{attr}", fn


def test_every_library_annotation_resolves():
    bad = []
    for qualname, fn in _library_functions():
        try:
            typing.get_type_hints(fn)
        except Exception as e:  # noqa: BLE001 — report every failure
            bad.append(f"{qualname}: {e!r}")
    assert not bad, "\n".join(bad)
