"""Custom keyword-compiler registry — the §2.7 extension hook.

The reference exposes a ``Compiler`` std::function hook so users can
compile their own keywords
(/root/reference/vendor/blaze/src/compiler/include/sourcemeta/blaze/compiler.h:77-80).
Here a registered keyword takes the built-ins' path: ``compile_node``
walks the compiler's keyword table and then the registered keywords, so
a registered keyword is evaluated after every built-in, compiles through
the same ``KeywordCompiler`` assertion path as ``minLength`` or
``multipleOf``, composes into the conjunction, carries its message in
violation rows and appears in ``trace()`` rows. A built-in name cannot be
overridden: registering one changes nothing.

    from jsonschema_spark.plans.registry import register_keyword

    register_keyword(
        "x-even",
        build=lambda value, ctx: (ctx.num_val() % 2 == 0) if value else True,
        message=lambda ctx, value: F.lit("The value was expected to be even"),
        type_guard="number",
    )

``build(value, ctx) -> Cond`` returns the assertion (True/False/Column);
``message(ctx, value) -> Column`` the violation text; ``type_guard``
optionally names a JSON type — other types pass vacuously (the
EVALUATE_BEGIN precondition-skip, evaluator_dispatch.h:71-123).

Registering or unregistering a keyword empties the plan cache
(``plans/plan_cache.py``): a plan compiled before may name the keyword.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import functions as F

from jsonschema_spark.plans import plan_cache


@dataclass(frozen=True)
class KeywordCompiler:
    build: Callable  # (value, ctx) -> Cond
    message: Callable  # (ctx, value) -> Column
    type_guard: Optional[str] = None  # JSON type name or None


KEYWORD_COMPILERS: dict[str, KeywordCompiler] = {}


def register_keyword(
    name: str,
    build: Callable,
    message: Optional[Callable] = None,
    type_guard: Optional[str] = None,
) -> None:
    if message is None:
        def message(ctx, value, _n=name):  # noqa: ARG001
            return F.lit(f"The value was expected to validate against the {_n} keyword")
    KEYWORD_COMPILERS[name] = KeywordCompiler(build, message, type_guard)
    plan_cache.PLANS.clear()


def unregister_keyword(name: str) -> None:
    KEYWORD_COMPILERS.pop(name, None)
    plan_cache.PLANS.clear()
