"""Snowflake Scripting — restricted subset (beyond reference: the
reference emulator passes SQL to DuckDB and has no procedural layer).

Supported surface, modeled on Snowflake's public Scripting docs:

* ``EXECUTE IMMEDIATE '<sql>'`` / ``EXECUTE IMMEDIATE $$ <sql|block> $$``
* ``CREATE [OR REPLACE] PROCEDURE p(a NUMBER, ...) RETURNS <type>
  [LANGUAGE SQL] AS $$ <block> $$`` / ``CALL p(<exprs>)`` (DROP
  PROCEDURE and SHOW PROCEDURES are the executor's, as for every
  catalog object)

Block grammar::

    [DECLARE  name type [DEFAULT <expr>];
              cur CURSOR FOR <select>;
              rs RESULTSET DEFAULT (<select>);
              exc EXCEPTION [(code, 'msg')]; ...]
    BEGIN
        <sql statement>;             -- :name binds substitute
        LET name [type] := <expr>;   -- also `name := <expr>`
        IF (<cond>) THEN ...;
        [ELSEIF (<cond>) THEN ...;] [ELSE ...;] END IF;
        FOR i IN [REVERSE] <lo> TO <hi> DO ...; END FOR;
        FOR rec IN cur DO ... rec.col ...; END FOR;
        WHILE (<cond>) DO ...; END WHILE;   -- also LOOP/END LOOP
        lbl: FOR/WHILE ... END FOR [lbl];   -- loop labels (r8)
        BREAK [lbl]; CONTINUE [lbl];        -- inside loops
        OPEN cur; FETCH cur INTO a, b; CLOSE cur;   -- (r8)
        RAISE exc;  RAISE;                  -- (bare RAISE re-raises)
        RETURN <expr>;
    [EXCEPTION
        WHEN exc [OR exc2]... THEN ...;
        WHEN STATEMENT_ERROR THEN ...;      -- any engine error
        WHEN OTHER THEN ...;]               -- catch-all
    END

Loop bounds/conditions evaluate through the engine's SQL path; range
bounds evaluate ONCE before the loop (Snowflake semantics). Loops are
capped at ``_MAX_LOOP_ITER`` iterations — a runaway WHILE raises
instead of hanging the session; a cursor FOR loop caps its row fetch
the same way. Inside a handler ``SQLCODE``/``SQLERRM`` resolve as
scripting variables. Loops and IF blocks NEST arbitrarily (v3):
construct grouping is depth-aware, and bare BREAK/CONTINUE bind to
the innermost enclosing loop (Snowflake's unlabeled semantics).
Labeled loops (r8): ``lbl: FOR ...`` with ``BREAK lbl`` /
``CONTINUE lbl`` targeting any enclosing labeled loop; a label that
matches no enclosing loop raises a syntax error. OPEN/FETCH/CLOSE
(r8): OPEN materializes the DECLAREd cursor's rows (row count capped
at ``_MAX_LOOP_ITER``, binds resolved at OPEN — Snowflake
semantics), FETCH past the last row sets its targets to NULL, FETCH
on an unopened cursor errors. OPEN ... USING (e1, e2) (r8 s2)
evaluates each expression with script variables in scope and
substitutes the cursor query's positional ``?`` binds in order —
the scripting surface has no remaining NotImplementedError
boundaries.
Declared types are accepted but values stay
dynamically typed (every expression evaluates through the engine's
full Spark path, so type behavior is Spark's).

Variable references follow Snowflake's two scopes: ``:name`` binds
inside SQL statements; bare ``name`` resolves inside scripting
expressions (DEFAULT / LET / IF conditions / RETURN). Control flow is
driver-side (as in Snowflake, where the scripting engine orchestrates
statements server-side); every statement still executes distributed.
"""

from __future__ import annotations

import re

from ..catalog import ProcedureMeta
from ..result import ColumnMetadata, Result

_EXEC_IMM_RE = re.compile(r"^\s*EXECUTE\s+IMMEDIATE\s+(.+)$", re.I | re.S)
_CREATE_PROC_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?PROCEDURE\s+([\w.\"$]+)\s*\((.*?)\)\s*"
    r"RETURNS\s+([\w]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*"
    r"(?:LANGUAGE\s+SQL\s*)?(?:EXECUTE\s+AS\s+\w+\s*)?"
    r"AS\s+(?:\$\$(.*?)\$\$|'(.*?)')\s*$",
    re.I | re.S,
)
_CALL_RE = re.compile(r"^\s*CALL\s+([\w.\"$]+)\s*\((.*)\)\s*$", re.I | re.S)


def try_handle(engine, s: str, ctx) -> Result | None:
    """Entry point from engine.execute: handle scripting statements,
    return None for everything else."""
    m = _EXEC_IMM_RE.match(s)
    if m:
        return _execute_immediate(engine, ctx, m.group(1).strip())
    m = _CREATE_PROC_RE.match(s)
    if m:
        return _create_procedure(engine, ctx, m)
    m = _CALL_RE.match(s)
    if m:
        return _call_procedure(engine, ctx, m.group(1), m.group(2))
    return None


# ---------------------------------------------------------------------------
# EXECUTE IMMEDIATE
# ---------------------------------------------------------------------------

def _execute_immediate(engine, ctx, payload: str) -> Result:
    vm = re.match(r"^\$([A-Za-z_]\w*)$", payload)
    if vm:
        # EXECUTE IMMEDIATE $session_var (Snowflake supports running a
        # SQL string held in a session variable)
        variables = getattr(ctx, "variables", None) or {}
        name = vm.group(1).upper()
        if name not in variables:
            from .. import errors

            raise errors.object_not_found(name)
        payload = "'" + str(variables[name]).replace("'", "''") + "'"
    if payload.startswith("$$"):
        end = payload.rfind("$$")
        text = payload[2:end] if end > 1 else payload[2:]
    elif payload.startswith("'"):
        # ''-escape-aware literal
        body, i = [], 1
        while i < len(payload):
            if payload[i] == "'":
                if i + 1 < len(payload) and payload[i + 1] == "'":
                    body.append("'")
                    i += 2
                    continue
                break
            body.append(payload[i])
            i += 1
        text = "".join(body)
    else:
        from .. import errors

        raise errors.syntax_error(
            "EXECUTE IMMEDIATE expects a string literal or $$ block")
    text = text.strip()
    if re.match(r"^(DECLARE|BEGIN)\b", text, re.I):
        return _run_block(engine, ctx, text, {}, result_col="anonymous block")
    return engine.execute(text, ctx)


# ---------------------------------------------------------------------------
# procedures
# ---------------------------------------------------------------------------

def _create_procedure(engine, ctx, m: re.Match) -> Result:
    or_replace = bool(m.group(1))
    name = m.group(2)
    args_src = m.group(3).strip()
    returns = m.group(4)
    body = (m.group(5) if m.group(5) is not None else m.group(6)).strip()
    arg_names, arg_types = [], []
    if args_src:
        for part in engine.executor.translator._split_args(args_src):
            am = re.match(r"^\s*([A-Za-z_]\w*)\s+(.+?)\s*$", part, re.S)
            if not am:
                from .. import errors

                raise errors.syntax_error(f"bad procedure argument: {part}")
            arg_names.append(am.group(1).upper())
            arg_types.append(am.group(2).strip())
    pm = engine.catalog.create(ProcedureMeta(
        *engine.catalog.resolve(name, ctx.database, ctx.schema),
        arg_names, arg_types, returns.upper(), body), or_replace=or_replace)
    return Result.status(f"Procedure {pm.name} successfully created.")


def _call_procedure(engine, ctx, name: str, args_src: str) -> Result:
    pm = engine.catalog.get("PROCEDURE", name, ctx.database, ctx.schema)
    args = [a for a in engine.executor.translator._split_args(args_src)
            if a.strip()] if args_src.strip() else []
    if len(args) != len(pm.arg_names):
        from .. import errors

        raise errors.invalid_parameter(
            f"{pm.name} expects {len(pm.arg_names)} argument(s), got {len(args)}")
    values = {an: _eval_expr(engine, ctx, a, {})
              for an, a in zip(pm.arg_names, args)}
    body = pm.body
    if not re.match(r"^(DECLARE|BEGIN)\b", body, re.I):
        body = f"BEGIN {body}; END"
    return _run_block(engine, ctx, body, values, result_col=pm.name,
                      declared=pm.returns)


# ---------------------------------------------------------------------------
# block execution
# ---------------------------------------------------------------------------

class _CursorDef:
    """DECLAREd cursor/resultset: the (not yet run) SELECT text. Stored
    under the cursor's name in the variable scope; _subst never renders
    it. Consumed by ``FOR rec IN <name>`` (self-contained loop) or by
    OPEN/FETCH/CLOSE (r8): OPEN materializes the rows (binds resolved
    at OPEN time, Snowflake semantics) into ``rows``/``cols`` with a
    fetch position; CLOSE resets them."""

    def __init__(self, sql: str):
        self.sql = sql
        self.rows: list | None = None   # None = not open
        self.cols: list[str] | None = None
        self.pos = 0


class _ExceptionDef:
    """DECLAREd user exception (name + optional code/message)."""

    def __init__(self, name: str, code: int = -20000, message: str = ""):
        self.name = name
        self.code = code
        self.message = message


class _ScriptRaise(Exception):
    """In-flight RAISE of a declared exception (caught by the block's
    EXCEPTION section, or surfaced to the caller as an engine error)."""

    def __init__(self, name: str, code: int, message: str):
        super().__init__(message or name)
        self.name = name
        self.code = code
        self.message = message


def _run_block(engine, ctx, text: str, variables: dict,
               result_col: str, declared: str | None = None) -> Result:
    from ..engine import _split_statements

    text = text.strip().rstrip(";").strip()
    m = re.match(r"^DECLARE\b(.*?)\bBEGIN\b(.*)\bEND\s*$", text, re.I | re.S)
    if m:
        decl_src, body_src = m.group(1), m.group(2)
    else:
        m2 = re.match(r"^BEGIN\b(.*)\bEND\s*$", text, re.I | re.S)
        if not m2:
            from .. import errors

            raise errors.syntax_error("scripting block must be BEGIN ... END")
        decl_src, body_src = "", m2.group(1)
    variables = dict(variables)
    for d in _split_statements(decl_src):
        d = d.strip()
        cm = re.match(r"^([A-Za-z_]\w*)\s+CURSOR\s+FOR\s+(.+)$", d, re.I | re.S)
        if cm:
            variables[cm.group(1).upper()] = _CursorDef(cm.group(2).strip())
            continue
        rm = re.match(r"^([A-Za-z_]\w*)\s+RESULTSET\s+DEFAULT\s*\((.+)\)\s*$",
                      d, re.I | re.S)
        if rm:
            variables[rm.group(1).upper()] = _CursorDef(rm.group(2).strip())
            continue
        em = re.match(
            r"^([A-Za-z_]\w*)\s+EXCEPTION\s*"
            r"(?:\(\s*(-?\d+)\s*,\s*'((?:[^']|'')*)'\s*\))?$",
            d, re.I)
        if em:
            variables[em.group(1).upper()] = _ExceptionDef(
                em.group(1).upper(),
                int(em.group(2)) if em.group(2) else -20000,
                (em.group(3) or "").replace("''", "'"))
            continue
        dm = re.match(
            r"^([A-Za-z_]\w*)\s+([\w]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)"
            r"(?:\s+DEFAULT\s+(.+))?$",
            d, re.I | re.S)
        if not dm:
            from .. import errors

            raise errors.syntax_error(f"bad DECLARE entry: {d}")
        variables[dm.group(1).upper()] = (
            _eval_expr(engine, ctx, dm.group(3), variables)
            if dm.group(3) else None)

    stmts = _split_statements(body_src)
    # split off the EXCEPTION handler section (Snowflake: the section
    # after the last body statement, introduced by EXCEPTION WHEN ...)
    handler_stmts: list[str] = []
    for hi, piece in enumerate(stmts):
        if re.match(r"^\s*EXCEPTION\s+WHEN\b", piece, re.I):
            handler_stmts = [re.sub(r"^\s*EXCEPTION\s+", "", piece, flags=re.I)] \
                + [p.strip() for p in stmts[hi + 1:]]
            stmts = stmts[:hi]
            break
    try:
        return _run_stmts(engine, ctx, stmts, variables, result_col, declared)
    except Exception as e:
        handled = _maybe_handle(engine, ctx, e, handler_stmts, variables,
                                result_col, declared)
        if handled is not None:
            return handled
        if isinstance(e, _ScriptRaise):
            from .. import errors

            if e.name == "__RERAISE__":
                raise errors.syntax_error("bare RAISE outside an exception handler")
            raise errors.execution_error(
                f"Uncaught exception {e.name} ({e.code}): {e.message}")
        raise


def _maybe_handle(engine, ctx, e: Exception, handler_stmts: list[str],
                  variables: dict, result_col: str,
                  declared: str | None) -> Result | None:
    """Run the matching EXCEPTION handler, or return None to re-raise.
    NotImplementedError (scripting-subset restrictions) is never
    handled — it signals misuse of the harness, not a SQL error."""
    from .. import errors

    if not handler_stmts or isinstance(e, NotImplementedError):
        return None
    if isinstance(e, _ScriptRaise):
        kind, code, msg = e.name, e.code, e.message
    elif isinstance(e, errors.SnowflakeError):
        kind = "STATEMENT_ERROR"
        try:
            code = int(e.code)
        except (TypeError, ValueError):
            code = -1
        msg = e.message
    else:
        kind, code, msg = "STATEMENT_ERROR", -1, str(e)
    # parse WHEN clauses: (names, [stmts])
    handlers: list[tuple[list[str], list[str]]] = []
    for piece in handler_stmts:
        wm = re.match(r"^WHEN\s+(.+?)\s+THEN\b(.*)$", piece.strip(), re.I | re.S)
        if wm:
            names = [n.strip().upper()
                     for n in re.split(r"\s+OR\s+", wm.group(1), flags=re.I)]
            body = wm.group(2).strip()
            handlers.append((names, [body] if body else []))
        elif handlers:
            if piece.strip():
                handlers[-1][1].append(piece.strip())
        elif piece.strip():
            raise errors.syntax_error(
                f"EXCEPTION section must start with WHEN: {piece[:60]}")
    for names, body in handlers:
        if kind in names or "OTHER" in names:
            hv = dict(variables)
            hv["SQLCODE"] = code
            hv["SQLERRM"] = msg
            try:
                return _run_stmts(engine, ctx, body, hv, result_col, declared)
            except _ScriptRaise as r2:
                if r2.name == "__RERAISE__":
                    return None  # bare RAISE: surface the original
                raise
    return None


# construct-boundary token patterns (counted OUTSIDE string literals so
# nested constructs group to their own END, not the first one seen)
_LOOP_OPEN_RE = re.compile(r"\b(?:FOR\s+[A-Za-z_]\w*\s+IN\b|WHILE\s*\()", re.I)
_LOOP_CLOSE_RE = re.compile(r"\bEND\s+(?:FOR|WHILE|LOOP)\b", re.I)
_IF_OPEN_RE = re.compile(r"\bIF\s*\(", re.I)
_IF_CLOSE_RE = re.compile(r"\bEND\s+IF\b", re.I)


def _expr_context(piece: str, pos: int) -> bool:
    """True when position ``pos`` of ``piece`` sits inside an
    expression context rather than at a scripting statement boundary:
    either inside unbalanced open parentheses (``LET y := (SELECT
    ... IF(...)``) or inside an open CASE...END expression (``CASE
    WHEN a THEN IF(b,1,2)`` — that THEN belongs to CASE, not to a
    scripting IF). Both counted outside string literals. (r7 advice:
    the statement-boundary guard alone still miscounted an IF( whose
    prefix ended with a CASE-branch THEN.)"""
    from ..executor import _inside_string

    prefix = piece[:pos]
    parens = 0
    for i, ch in enumerate(prefix):
        if ch in "()" and not _inside_string(prefix, i):
            parens += 1 if ch == "(" else -1
    if parens > 0:
        return True
    case_depth = 0
    for m in re.finditer(r"\bCASE\b|\bEND\b(?!\s+(?:IF|FOR|WHILE|LOOP)\b)",
                         prefix, re.I):
        if _inside_string(prefix, m.start()):
            continue
        case_depth += 1 if m.group(0).upper() == "CASE" else -1
    return case_depth > 0


def _net_depth(piece: str, open_re: re.Pattern, close_re: re.Pattern,
               skip_else_if: bool = False) -> int:
    """opens - closes for one ';'-split piece, skipping string literals
    (and ``ELSE IF (`` when counting IF opens — it continues the same
    IF construct rather than opening a nested one). IF opens count
    only at a statement boundary (piece start or right after
    THEN/ELSE/DO/LOOP) and outside any expression context (unbalanced
    parens / open CASE...END): a scalar ``IF(cond, a, b)`` embedded in
    a SQL statement body is an expression, not a construct open, and
    counting it swallowed the rest of the script (r6 + r7 advice)."""
    from ..executor import _inside_string

    opens = 0
    for m in open_re.finditer(piece):
        if _inside_string(piece, m.start()):
            continue
        prefix = piece[:m.start()]
        if skip_else_if:
            if re.search(r"\bELSE\s*$", prefix, re.I):
                continue
            if prefix.strip() and not re.search(
                    r"\b(?:THEN|DO|LOOP)\s*$", prefix, re.I):
                continue
            if _expr_context(piece, m.start()):
                continue
        opens += 1
    closes = sum(1 for m in close_re.finditer(piece)
                 if not _inside_string(piece, m.start()))
    return opens - closes


def _collect_construct(stmts: list[str], i: int, open_re: re.Pattern,
                       close_re: re.Pattern,
                       skip_else_if: bool = False) -> tuple[list[str], int]:
    """Collect the pieces of one construct starting at stmts[i] until
    its opens and closes balance (depth-aware: nested same-kind
    constructs inside the body are swallowed into the group)."""
    group = [stmts[i].strip()]
    depth = _net_depth(group[0], open_re, close_re, skip_else_if)
    while depth > 0 and i + 1 < len(stmts):
        i += 1
        piece = stmts[i].strip()
        group.append(piece)
        depth += _net_depth(piece, open_re, close_re, skip_else_if)
    return group, i


def _run_stmts(engine, ctx, stmts: list[str], variables: dict,
               result_col: str, declared: str | None) -> Result:
    last: Result | None = None
    i = 0
    while i < len(stmts):
        st = stmts[i].strip()
        if re.match(r"^IF\b", st, re.I):
            group, i = _collect_construct(stmts, i, _IF_OPEN_RE,
                                          _IF_CLOSE_RE, skip_else_if=True)
            kind, value = _run_if(engine, ctx, group, variables)
        elif re.match(r"^(FOR|WHILE)\b", st, re.I) or _LABEL_RE.match(st):
            group, i = _collect_construct(stmts, i, _LOOP_OPEN_RE,
                                          _LOOP_CLOSE_RE)
            kind, value = _run_loop(engine, ctx, group, variables)
        else:
            kind, value = _exec_stmt(engine, ctx, st, variables)
        if kind == "return":
            return _value_result(value, result_col, declared)
        if kind in ("break", "continue"):
            from .. import errors

            target = f" {value}" if value else ""
            raise errors.syntax_error(
                f"{kind.upper()}{target} outside of a matching loop")
        if kind == "result":
            last = value
        i += 1
    if last is not None:
        return last
    return _value_result(None, result_col, declared)


# loop-iteration hard cap: a WHILE whose condition never flips must
# raise, not hang the session (and at 10k iterations of full Spark
# statements the script is misdesigned anyway — loops orchestrate,
# the statements inside them do the distributed work)
_MAX_LOOP_ITER = 10_000


# optional loop label: ``mylbl: FOR i IN ...`` (the ``(?=...)`` keeps
# plain assignments ``x := 1`` from matching — a label is only a label
# when a loop keyword follows)
_LABEL_RE = re.compile(r"^([A-Za-z_]\w*)\s*:\s*(?=(?:FOR|WHILE)\b)", re.I)


def _loop_signal(kind: str, value, label: str | None):
    """Interpret a break/continue signal inside a loop labeled
    ``label``: 'break'/'continue' = consume here (bare signal or
    matching label), 'propagate' = re-raise to the enclosing loop
    (labeled signal for an outer loop), 'none' = not a loop signal."""
    if kind not in ("break", "continue"):
        return "none"
    if value is None or value == label:
        return kind
    return "propagate"


def _run_loop(engine, ctx, group: list[str], variables: dict):
    """group = the ';'-split pieces of one FOR/WHILE ... END FOR/WHILE
    construct (optionally ``label:``-prefixed). Returns (kind, value)
    like _exec_stmt."""
    from .. import errors

    first = group[0]
    label = None
    lbm = _LABEL_RE.match(first)
    if lbm:
        label = lbm.group(1).upper()
        first = first[lbm.end():].lstrip()
    end_tail = re.compile(r"\bEND\s+(FOR|WHILE|LOOP)(\s+\w+)?$", re.I)
    if not end_tail.search(group[-1].strip()):
        raise errors.syntax_error("unterminated loop: missing END FOR/END WHILE")

    def body_pieces(after_do: str) -> list[str]:
        if len(group) == 1:
            after_do = end_tail.sub("", after_do).strip()
            middle, tail = [], ""
        else:
            middle = [p.strip() for p in group[1:-1]]
            tail = end_tail.sub("", group[-1].strip()).strip()
        return [p for p in [after_do.strip(), *middle, tail] if p]

    # cursor form FIRST: with nested loops, the non-greedy range regex
    # could otherwise span the cursor header's DO to find a nested
    # loop's TO ("FOR rec IN cur DO FOR i IN 1 TO n DO ...")
    cfm = re.match(
        r"^FOR\s+([A-Za-z_]\w*)\s+IN\s+([A-Za-z_]\w*)\s+(?:DO|LOOP)\b(.*)$",
        first, re.I | re.S)
    if cfm and isinstance(variables.get(cfm.group(2).upper()), _CursorDef):
        return _run_cursor_loop(engine, ctx, cfm.group(1),
                                variables[cfm.group(2).upper()],
                                body_pieces(cfm.group(3)), variables, label)
    # r10: inline-query FOR loop — FOR rec IN (SELECT ...) DO ...
    # (Snowflake allows the query directly; same row-capped cursor path)
    qfm = re.match(r"^FOR\s+([A-Za-z_]\w*)\s+IN\s*\(", first, re.I)
    if qfm:
        o = first.index("(", qfm.end() - 1)
        c = _match_paren(first, o)
        if c > o:
            after = re.sub(r"^\s*(DO|LOOP)\b", "", first[c + 1:].strip(),
                           flags=re.I)
            return _run_cursor_loop(engine, ctx, qfm.group(1),
                                    _CursorDef(first[o + 1:c].strip()),
                                    body_pieces(after), variables, label)
    fm = re.match(
        r"^FOR\s+([A-Za-z_]\w*)\s+IN\s+(REVERSE\s+)?(.+?)\s+TO\s+(.+?)\s+"
        r"(?:DO|LOOP)\b(.*)$",
        first, re.I | re.S)
    if fm:
        var = fm.group(1).upper()
        lo = int(_eval_expr(engine, ctx, fm.group(3), variables))
        hi = int(_eval_expr(engine, ctx, fm.group(4), variables))
        pieces = body_pieces(fm.group(5))
        rng = range(hi, lo - 1, -1) if fm.group(2) else range(lo, hi + 1)
        if len(rng) > _MAX_LOOP_ITER:
            raise errors.invalid_parameter(
                f"FOR range of {len(rng)} exceeds the loop cap of {_MAX_LOOP_ITER}")
        _MISSING = object()
        saved = variables.get(var, _MISSING)
        try:
            for v in rng:
                variables[var] = v
                kind, value = _run_body(engine, ctx, pieces, variables)
                if kind == "return":
                    return "return", value
                sig = _loop_signal(kind, value, label)
                if sig == "break":
                    break
                if sig == "propagate":
                    return kind, value
        finally:
            # the counter is scoped to the loop (Snowflake semantics)
            if saved is _MISSING:
                variables.pop(var, None)
            else:
                variables[var] = saved
        return "none", None
    if re.match(r"^FOR\b", first, re.I):
        raise NotImplementedError(
            "FOR supports range loops (FOR i IN lo TO hi DO ...), cursor "
            "loops over a DECLAREd CURSOR/RESULTSET, and inline-query "
            "loops (FOR rec IN (SELECT ...) DO ...)")
    wm = re.match(r"^WHILE\s*\(", first, re.I)
    if not wm:
        raise errors.syntax_error(f"bad loop header: {first[:80]}")
    o = first.index("(")
    c = _match_paren(first, o)
    cond = first[o + 1:c]
    after = re.sub(r"^\s*(DO|LOOP)\b", "", first[c + 1:].strip(), flags=re.I)
    pieces = body_pieces(after)
    iters = 0
    while _eval_cond(engine, ctx, cond, variables):
        iters += 1
        if iters > _MAX_LOOP_ITER:
            raise errors.invalid_parameter(
                f"WHILE exceeded the loop cap of {_MAX_LOOP_ITER} iterations")
        kind, value = _run_body(engine, ctx, pieces, variables)
        if kind == "return":
            return "return", value
        sig = _loop_signal(kind, value, label)
        if sig == "break":
            break
        if sig == "propagate":
            return kind, value
    return "none", None


def _run_cursor_loop(engine, ctx, recname: str, cur: "_CursorDef",
                     pieces: list[str], variables: dict,
                     label: str | None = None):
    """FOR rec IN <cursor or (query)> DO ... END FOR: run the SELECT
    once (row fetch capped at _MAX_LOOP_ITER — the loop is driver-side
    orchestration; unbounded result iteration belongs in set-based SQL,
    not a scripting loop), then execute the body once per row with
    ``rec.col`` references substituted as literals."""
    from .. import errors
    from ..executor import _inside_string, sql_literal
    res = engine.execute(
        f"SELECT * FROM ({_subst(cur.sql, variables, bind_only=True)}) "
        f"__cur LIMIT {_MAX_LOOP_ITER + 1}", ctx)
    if len(res.rows) > _MAX_LOOP_ITER:
        raise errors.invalid_parameter(
            f"cursor FOR loop over more than {_MAX_LOOP_ITER} rows — "
            "use set-based SQL for unbounded iteration")
    cols = [c.upper() for c in res.columns]
    rec_re = re.compile(rf"(?i):?\b{re.escape(recname)}\.([A-Za-z_]\w*)")

    for row in res.rows:
        rowmap = dict(zip(cols, row))

        def sub_rec(piece: str) -> str:
            def repl(m: re.Match) -> str:
                if _inside_string(piece, m.start()):
                    return m.group(0)
                col = m.group(1).upper()
                if col not in rowmap:
                    raise errors.invalid_identifier(f"{recname}.{m.group(1)}")
                return sql_literal(rowmap[col])

            return rec_re.sub(repl, piece)

        kind, value = _run_body(engine, ctx, [sub_rec(p) for p in pieces],
                                variables)
        if kind == "return":
            return "return", value
        sig = _loop_signal(kind, value, label)
        if sig == "break":
            break
        if sig == "propagate":
            return kind, value
    return "none", None


def _run_body(engine, ctx, pieces: list[str], variables: dict):
    """Execute a loop or IF-branch body (';'-split pieces; may contain
    nested IF and FOR/WHILE groups — BREAK/CONTINUE bind to the
    INNERMOST enclosing loop, Snowflake semantics: an inner loop's
    _run_loop consumes its own break/continue and returns 'none').
    Returns ('none'|'return'|'break'|'continue', value)."""
    i = 0
    while i < len(pieces):
        st = pieces[i].strip()
        if not st:
            i += 1
            continue
        if re.match(r"^IF\b", st, re.I):
            group, i = _collect_construct(pieces, i, _IF_OPEN_RE,
                                          _IF_CLOSE_RE, skip_else_if=True)
            kind, value = _run_if(engine, ctx, group, variables)
        elif re.match(r"^(FOR|WHILE)\b", st, re.I) or _LABEL_RE.match(st):
            group, i = _collect_construct(pieces, i, _LOOP_OPEN_RE,
                                          _LOOP_CLOSE_RE)
            kind, value = _run_loop(engine, ctx, group, variables)
        else:
            kind, value = _exec_stmt(engine, ctx, st, variables)
        if kind in ("return", "break", "continue"):
            return kind, value
        i += 1
    return "none", None


def _run_if(engine, ctx, group: list[str], variables: dict):
    """group = the ';'-split pieces of one IF ... END IF construct
    (depth-collected, so it may contain NESTED IF and loop groups).
    Branch boundaries (ELSEIF/ELSE/END IF) are recognized only at
    nesting depth 0; the chosen branch runs through _run_body, which
    recursively handles inner constructs."""
    from .. import errors

    first = group[0]
    open_idx = first.upper().index("IF") + 2
    while open_idx < len(first) and first[open_idx] != "(":
        open_idx += 1
    close_idx = _match_paren(first, open_idx)
    branches = []  # (cond | None, [stmts])
    cond = first[open_idx + 1:close_idx]
    after = re.sub(r"^\s*THEN\b", "", first[close_idx + 1:].strip(), flags=re.I)
    branches.append((cond, [after.strip()] if after.strip() else []))
    # depth of nested IFs already opened inside the first piece's tail
    depth = _net_depth(after, _IF_OPEN_RE, _IF_CLOSE_RE, skip_else_if=True)
    parts = list(group[1:])
    if parts:
        # the final outer END IF terminates the construct; inner END IFs
        # remain as body pieces for the recursive _run_body pass
        parts[-1] = re.sub(r"\bEND\s+IF$", "", parts[-1].strip(),
                           flags=re.I).strip()
    for part in parts:
        if not part:
            continue
        if depth == 0:
            em = re.match(r"^ELSE\s*IF\b|^ELSEIF\b", part, re.I)
            if em:
                o = part.index("(")
                c = _match_paren(part, o)
                cond2 = part[o + 1:c]
                after2 = re.sub(r"^\s*THEN\b", "", part[c + 1:].strip(),
                                flags=re.I)
                branches.append(
                    (cond2, [after2.strip()] if after2.strip() else []))
                depth += _net_depth(after2, _IF_OPEN_RE, _IF_CLOSE_RE,
                                    skip_else_if=True)
                continue
            if re.match(r"^ELSE\b", part, re.I):
                rest = part[4:].strip()
                branches.append((None, [rest] if rest else []))
                depth += _net_depth(rest, _IF_OPEN_RE, _IF_CLOSE_RE,
                                    skip_else_if=True)
                continue
        branches[-1][1].append(part)
        depth += _net_depth(part, _IF_OPEN_RE, _IF_CLOSE_RE,
                            skip_else_if=True)
    if depth != 0:
        raise errors.syntax_error("unbalanced IF/END IF nesting")
    for cond, stmts in branches:
        if cond is None or _eval_cond(engine, ctx, cond, variables):
            # break/continue propagate to the enclosing loop
            return _run_body(engine, ctx, stmts, variables)
    return "none", None


def _exec_stmt(engine, ctx, st: str, variables: dict):
    st = st.strip()
    if not st:
        return "none", None
    from .. import errors

    bm = re.match(r"^(BREAK|EXIT|CONTINUE|ITERATE)(?:\s+([A-Za-z_]\w*))?$",
                  st, re.I)
    if bm:
        # labeled form (r8): the label travels as the signal's value;
        # each _run_loop consumes a matching (or bare) signal and
        # propagates non-matching labels to its enclosing loop
        kind = ("break" if bm.group(1).upper() in ("BREAK", "EXIT")
                else "continue")
        return kind, (bm.group(2).upper() if bm.group(2) else None)
    om = re.match(r"^OPEN\s+([A-Za-z_]\w*)(\s+USING\b.*)?$", st, re.I | re.S)
    if om:
        cur = variables.get(om.group(1).upper())
        if not isinstance(cur, _CursorDef):
            raise errors.object_not_found(f"cursor {om.group(1)}")
        cur_sql = _subst(cur.sql, variables, bind_only=True)
        if om.group(2):
            # OPEN c USING (e1, e2, ...): each expression is evaluated
            # with the script's variables in scope and substituted for
            # the DECLARE'd query's positional `?` placeholders in order
            # (Snowflake bind semantics; literal-injected like the
            # engine's bindings layer)
            from ..executor import _inside_string, sql_literal

            ulist = re.sub(r"^\s*USING\s*", "", om.group(2).strip(), flags=re.I)
            if ulist.startswith("(") and ulist.endswith(")"):
                ulist = ulist[1:-1]
            from .translator import Translator

            vals = [_eval_expr(engine, ctx, piece.strip(), variables)
                    for piece in Translator()._split_args(ulist) if piece.strip()]
            qmarks = [idx for idx, ch in enumerate(cur_sql)
                      if ch == "?" and not _inside_string(cur_sql, idx)]
            if len(qmarks) != len(vals):
                raise errors.invalid_parameter(
                    f"OPEN {om.group(1)} USING supplies {len(vals)} values "
                    f"but the cursor query has {len(qmarks)} '?' binds")
            out_sql, prev = [], 0
            for idx, v in zip(qmarks, vals):
                out_sql.append(cur_sql[prev:idx])
                out_sql.append(sql_literal(v))
                prev = idx + 1
            out_sql.append(cur_sql[prev:])
            cur_sql = "".join(out_sql)
        res = engine.execute(
            f"SELECT * FROM ({cur_sql}) "
            f"__cur LIMIT {_MAX_LOOP_ITER + 1}", ctx)
        if len(res.rows) > _MAX_LOOP_ITER:
            raise errors.invalid_parameter(
                f"OPEN cursor over more than {_MAX_LOOP_ITER} rows — "
                "use set-based SQL for unbounded iteration")
        cur.rows = list(res.rows)
        cur.cols = [c.upper() for c in res.columns]
        cur.pos = 0
        return "none", None
    fm = re.match(r"^FETCH\s+([A-Za-z_]\w*)\s+INTO\s+(.+)$", st, re.I | re.S)
    if fm:
        cur = variables.get(fm.group(1).upper())
        if not isinstance(cur, _CursorDef):
            raise errors.object_not_found(f"cursor {fm.group(1)}")
        if cur.rows is None:
            raise errors.invalid_parameter(
                f"cursor {fm.group(1)} is not open")
        targets = []
        for t in fm.group(2).split(","):
            t = t.strip().lstrip(":")
            if not re.match(r"^[A-Za-z_]\w*$", t):
                raise errors.syntax_error(f"bad FETCH target: {t[:40]}")
            targets.append(t.upper())
        row = cur.rows[cur.pos] if cur.pos < len(cur.rows) else None
        if row is not None and len(targets) > len(row):
            raise errors.invalid_parameter(
                f"FETCH names {len(targets)} targets but the cursor has "
                f"only {len(row)} columns")
        for j, t in enumerate(targets):
            # past the last row the targets are set to NULL (Snowflake)
            variables[t] = row[j] if row is not None else None
        if row is not None:
            cur.pos += 1
        return "none", None
    clm = re.match(r"^CLOSE\s+([A-Za-z_]\w*)$", st, re.I)
    if clm:
        cur = variables.get(clm.group(1).upper())
        if not isinstance(cur, _CursorDef):
            raise errors.object_not_found(f"cursor {clm.group(1)}")
        cur.rows, cur.cols, cur.pos = None, None, 0
        return "none", None
    if re.match(r"^(OPEN|FETCH|CLOSE)\b", st, re.I):
        raise errors.syntax_error(
            f"bad OPEN/FETCH/CLOSE statement: {st[:60]}")
    xm = re.match(r"^RAISE(?:\s+([A-Za-z_]\w*))?$", st, re.I)
    if xm:
        if not xm.group(1):
            # bare RAISE (only valid in a handler): re-raise original
            raise _ScriptRaise("__RERAISE__", -1, "")
        name = xm.group(1).upper()
        exc = variables.get(name)
        if not isinstance(exc, _ExceptionDef):
            from .. import errors

            raise errors.object_not_found(f"exception {name}")
        raise _ScriptRaise(exc.name, exc.code, exc.message)
    rm = re.match(r"^RETURN\b(.*)$", st, re.I | re.S)
    if rm:
        return "return", _eval_expr(engine, ctx, rm.group(1), variables)
    lm = re.match(
        r"^(?:LET\s+)?([A-Za-z_]\w*)\s*"
        r"(?:[\w]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?\s+)?:?=\s*(.+)$",
        st, re.I | re.S) if re.match(r"^(LET\b|[A-Za-z_]\w*\s*:=)", st, re.I) else None
    if lm:
        variables[lm.group(1).upper()] = _eval_expr(
            engine, ctx, lm.group(2), variables)
        return "none", None
    return "result", engine.execute(_subst(st, variables, bind_only=True), ctx)


# ---------------------------------------------------------------------------
# expression / variable plumbing
# ---------------------------------------------------------------------------

def _eval_expr(engine, ctx, expr: str, variables: dict):
    expr = (expr or "").strip()
    if not expr:
        return None
    res = engine.execute(
        f"SELECT {_subst(expr, variables, bind_only=False)} AS v", ctx)
    return res.rows[0][0] if res.rows else None


def _eval_cond(engine, ctx, cond: str, variables: dict) -> bool:
    v = _eval_expr(
        engine, ctx,
        f"CASE WHEN ({cond.strip()}) THEN TRUE ELSE FALSE END", variables)
    return bool(v)


def _sql_subquery_spans(text: str) -> list[tuple[int, int]]:
    """[start, end] index ranges of parenthesized SQL subqueries
    (``(SELECT ...)`` / ``(WITH ...)``) — inside them Snowflake's SQL
    scope applies (``:name`` binds only), outside is scripting scope
    (bare names resolve)."""
    spans, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if c == "(":
            j = i + 1
            while j < n and text[j].isspace():
                j += 1
            head = text[j:j + 6].upper()
            if head.startswith(("SELECT", "WITH")):
                try:
                    end = _match_paren(text, i)
                except ValueError:
                    end = n - 1
                spans.append((i, end))
                i = end + 1
                continue
        i += 1
    return spans


def _subst(text: str, variables: dict, bind_only: bool) -> str:
    """Replace ``:name`` (always) and bare ``name`` (scripting scope
    only: outside string literals AND outside embedded SQL subqueries,
    where a bare identifier is a column/alias, not a variable) with
    the variable's SQL literal."""
    from ..executor import _inside_string, sql_literal

    if not variables:
        return text
    spans = [] if bind_only else _sql_subquery_spans(text)

    def in_sql_scope(pos: int) -> bool:
        return any(a < pos <= b for a, b in spans)

    pattern = (r":([A-Za-z_]\w*)" if bind_only
               else r"(?::([A-Za-z_]\w*))|(?<![\w.:$])([A-Za-z_]\w*)(?![\w(])")

    def repl(m: re.Match) -> str:
        if _inside_string(text, m.start()):
            return m.group(0)
        is_bind = m.group(1) is not None
        name = m.group(1) or (m.group(2) if m.lastindex and m.lastindex > 1
                              else None)
        if not is_bind and in_sql_scope(m.start()):
            return m.group(0)   # bare identifier inside SQL = column ref
        if name and name.upper() in variables:
            value = variables[name.upper()]
            if isinstance(value, (_CursorDef, _ExceptionDef)):
                return m.group(0)  # cursors/exceptions never render
            return sql_literal(value)
        return m.group(0)

    return re.sub(pattern, repl, text)


def _match_paren(s: str, open_idx: int) -> int:
    """Shared quote-aware matcher (translator.match_paren); raises on
    unbalanced input instead of returning -1."""
    from .translator import match_paren

    i = match_paren(s, open_idx)
    if i < 0:
        raise ValueError("unbalanced parentheses")
    return i


def _value_result(value, col: str, declared: str | None = None) -> Result:
    """One-cell result for RETURN. ``declared`` (a procedure's RETURNS
    type, Snowflake spelling) wins over Python-type inference so CALL
    reports the declared wire type (a Decimal returned from RETURNS
    NUMBER must not surface as TEXT)."""
    if declared:
        d = declared.upper()
        m = re.match(r"^(NUMBER|DECIMAL|NUMERIC)\s*(?:\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?$", d)
        if m:
            cm = ColumnMetadata(col, "NUMBER",
                                precision=int(m.group(2) or 38),
                                scale=int(m.group(3) or 0))
        elif d in ("INT", "INTEGER", "BIGINT", "SMALLINT", "TINYINT", "BYTEINT"):
            cm = ColumnMetadata(col, "NUMBER", precision=38, scale=0)
        elif d in ("FLOAT", "FLOAT4", "FLOAT8", "DOUBLE", "REAL",
                   "DOUBLE PRECISION"):
            cm = ColumnMetadata(col, "FLOAT")
        elif d == "BOOLEAN":
            cm = ColumnMetadata(col, "BOOLEAN")
        elif d == "DATE":
            cm = ColumnMetadata(col, "DATE")
        elif d.startswith("TIMESTAMP"):
            cm = ColumnMetadata(col, d.split("(")[0])
        else:
            cm = ColumnMetadata(col, "TEXT", length=16777216)
        return Result(columns=[col], column_types=[cm], rows=[[value]])
    if isinstance(value, bool):
        cm = ColumnMetadata(col, "BOOLEAN")
    elif isinstance(value, int):
        cm = ColumnMetadata(col, "NUMBER", precision=38, scale=0)
    elif isinstance(value, float):
        cm = ColumnMetadata(col, "FLOAT")
    else:
        import datetime as _dt
        import decimal as _decimal

        if isinstance(value, _decimal.Decimal):
            cm = ColumnMetadata(col, "NUMBER", precision=38,
                                scale=max(0, -value.as_tuple().exponent))
        elif isinstance(value, _dt.datetime):
            cm = ColumnMetadata(col, "TIMESTAMP_NTZ")
        elif isinstance(value, _dt.date):
            cm = ColumnMetadata(col, "DATE")
        else:
            cm = ColumnMetadata(col, "TEXT", length=16777216)
    return Result(columns=[col], column_types=[cm], rows=[[value]])
