"""Driver-side spans around calls into the package's layers.

``install`` replaces every public function of the package's layer
modules with a wrapper that records a span (layer, duration, child time)
and rebinds every ``from module import name`` copy of it across the
package, then imports the query registry, whose ``queries_*`` modules
bind names at import time. ``Recorder.active`` switches recording on for
traced passes only; off, a wrapper just calls through.

py4j calls are counted by wrapping the gateway client's
``send_command`` and crediting each call to the innermost open span.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
import types
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager

PACKAGE = "terra_bonobo_nodes_spark"
# layers whose construction self time, calls and py4j calls are reported
SPAN_LAYERS = ("plans", "tables", "operators", "geo", "llm", "sources", "streaming",
               "functions")
MEMORY_COMMAND = "m\n"  # py4j.protocol.MEMORY_COMMAND_NAME
# layers whose public functions get wrappers; plans is spanned by the
# benchmark around each registered query's construction instead
WRAPPED_LAYERS = ("tables", "operators", "geo", "llm", "sources", "sinks",
                  "streaming", "functions")


def layer_of(module_name: str) -> str:
    parts = module_name.split(".")
    return parts[1] if len(parts) > 1 and parts[0] == PACKAGE else ""


class Recorder:
    """In-memory spans folded into per-layer self time, calls and py4j
    calls as they close."""

    def __init__(self) -> None:
        self.active = False
        self._stack: list[list] = []  # [layer, start, child_seconds]
        self.udf_layers: dict[str, set[str]] = {}
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.py4j_calls: dict[str, int] = defaultdict(int)
        self.function_calls: dict[str, int] = defaultdict(int)

    def record_udf(self, name: str, module: str) -> None:
        """Remember which layer built a UDF called ``name``."""
        layer = layer_of(module)
        if layer:
            self.udf_layers.setdefault(name, set()).add(layer)

    def enter(self, layer: str) -> None:
        self._stack.append([layer, time.perf_counter(), 0.0])

    def exit(self, key: str | None = None) -> None:
        layer, start, child = self._stack.pop()
        duration = time.perf_counter() - start
        self.self_s[layer] += duration - child
        self.calls[layer] += 1
        if key is not None:
            self.function_calls[key] += 1
        if self._stack:
            self._stack[-1][2] += duration

    @contextmanager
    def span(self, layer: str) -> Iterator[None]:
        if not self.active:
            yield
            return
        self.enter(layer)
        try:
            yield
        finally:
            self.exit()

    def count_py4j(self) -> None:
        if self.active and self._stack:
            self.py4j_calls[self._stack[-1][0]] += 1


def _wrap(fn: Callable, layer: str, key: str, rec: Recorder) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not rec.active:
            return fn(*args, **kwargs)
        rec.enter(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            rec.exit(key)

    wrapper.__perfbench_key__ = key
    return wrapper


def _package_modules() -> list[types.ModuleType]:
    return [m for n, m in list(sys.modules.items())
            if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))]


def _rebind(originals: dict[int, Callable]) -> None:
    for module in _package_modules():
        for name, value in list(vars(module).items()):
            wrapper = originals.get(id(value))
            if wrapper is not None:
                setattr(module, name, wrapper)


def record_udfs(rec: Recorder) -> None:
    """Note the defining module of every UDF built from now on. Plan
    nodes name a UDF only by its function name, and factories often
    call theirs ``udf`` or ``f``; the modules that actually built one
    in this run settle which layer the name means."""
    from pyspark.sql.udf import UserDefinedFunction

    init = UserDefinedFunction.__init__

    @functools.wraps(init)
    def recording_init(self, func, *args, **kwargs):
        init(self, func, *args, **kwargs)
        rec.record_udf(self._name, getattr(func, "__module__", None) or "")

    UserDefinedFunction.__init__ = recording_init


def install(rec: Recorder) -> None:
    """Wrap the public functions of every importable layer module, then
    import the registry."""
    record_udfs(rec)
    pkg = importlib.import_module(PACKAGE)
    skipped = []
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        if layer_of(info.name) in WRAPPED_LAYERS:
            try:
                importlib.import_module(info.name)
            except ImportError as exc:  # optional dependency missing here
                skipped.append(f"{info.name}: {exc}")
    originals: dict[int, Callable] = {}
    for module in _package_modules():
        layer = layer_of(module.__name__)
        if layer not in WRAPPED_LAYERS:
            continue
        for name, fn in list(vars(module).items()):
            if (name.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != module.__name__
                    or hasattr(fn, "__perfbench_key__")):
                continue
            key = f"{module.__name__}.{name}"
            originals[id(fn)] = _wrap(fn, layer, key, rec)
    _rebind(originals)
    importlib.import_module(PACKAGE + ".plans.registry").all_queries()
    _rebind(originals)
    for line in skipped:
        print(f"# trace: not wrapped, import failed: {line}", file=sys.stderr)


def count_py4j(gateway_client, rec: Recorder) -> None:
    """Count the py4j round trips the driver thread makes through
    ``gateway_client``. Object-release commands, which py4j's finalizer
    thread sends whenever Python's garbage collector runs, are left out
    so the count repeats exactly."""
    send = gateway_client.send_command
    owner = threading.get_ident()

    def counted(command, *args, **kwargs):
        if threading.get_ident() == owner and not command.startswith(MEMORY_COMMAND):
            rec.count_py4j()
        return send(command, *args, **kwargs)

    gateway_client.send_command = counted


def referenced_wrappers(fn: Callable) -> set[str]:
    """Keys of the wrapped functions a query function names on the
    driver: in its own code, directly, through a module (``K.st_x``) or a
    function-local import. Names its nested functions use, or that it
    hands to them as closure cells, are left out: those functions run
    inside UDFs on the executors, where no span is recorded."""
    code = fn.__code__
    names = set(code.co_names) - set(code.co_cellvars)
    scopes = [fn.__globals__]
    scopes += [vars(v) for v in fn.__globals__.values() if isinstance(v, types.ModuleType)]
    scopes += [vars(sys.modules[n]) for n in names if n.startswith(PACKAGE) and n in sys.modules]
    found = set()
    for scope in scopes:
        for name in names:
            key = getattr(scope.get(name), "__perfbench_key__", None)
            if key is not None:
                found.add(key)
    return found


def silent_misses(referenced: set[str], rec: Recorder) -> list[str]:
    """Modules the queries name a wrapped function of, yet no wrapped
    function of which recorded a call: a span that silently missed."""
    modules = {k.rsplit(".", 1)[0] for k in referenced}
    called = {k.rsplit(".", 1)[0] for k, n in rec.function_calls.items() if n}
    return sorted(modules - called)
