"""Browser review UI — the reference's primary surface, dependency-free.

The reference's first touch is a Streamlit app
(pages/02_Linkage_Review.py:1-208: side-by-side field groups with
mismatch highlighting, a label radio, a note box, prev/next/goto, and a
progress summary). Streamlit is not installable in this environment, so
the same surface is served with the standard library's ``http.server``
over the SAME session machinery the CLI reviewer uses
(:class:`~rlr_spark.cli.CLReviewer` — renders served from a cached page
of pairs, one projected rewrite per label save, autosave, packet-cursor
persistence). No JavaScript framework, no
dependency: plain HTML forms, one POST per action.

The server is single-threaded ON PURPOSE: review is a one-human
workload and the underlying reviewer (Spark driver calls, cursor state)
is not thread-safe; serializing requests is the correct concurrency
model, exactly like Streamlit's script-rerun-per-interaction.
"""

from __future__ import annotations

import html as _html
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs

from rlr_spark import REV_LABEL_COL, REV_NOTE_COL
from rlr_spark.cli import CLReviewer
from rlr_spark.report import render_label_summary

_STYLE = """
body { font-family: system-ui, sans-serif; margin: 2rem auto; max-width: 60rem; }
table.pair { border-collapse: collapse; width: 100%; margin: 1rem 0; }
table.pair th, table.pair td { border: 1px solid #ccc; padding: .4rem .6rem; text-align: left; }
tr.mismatch td { background: #fff3e0; }
tr.match td { background: #e8f5e9; }
.nav, .labels { margin: .6rem 0; }
button { margin-right: .4rem; }
.current { font-weight: bold; }
pre.summary { background: #f5f5f5; padding: .6rem; }
.note { color: #555; }
"""


def _esc(v) -> str:
    return _html.escape("" if v is None else str(v))


class WebReviewer:
    """HTML rendering + action handling over a :class:`CLReviewer`."""

    def __init__(self, reviewer: CLReviewer) -> None:
        self.r = reviewer

    # -- actions (same semantics as CLReviewer.process_choice) ------------
    def apply(self, form: dict[str, list[str]]) -> None:
        r = self.r
        idx = r.session.cursor
        if "label" in form:
            choice = form["label"][0]
            labels = r.packet.label_choices
            if choice == "0":
                r._save(idx, label="")
            elif choice.isdigit() and 1 <= int(choice) <= len(labels):
                r._save(idx, label=labels[int(choice) - 1])
        elif "note" in form:
            r._save(idx, note=form["note"][0])
        elif "nav" in form:
            nav = form["nav"][0]
            if nav == "prev" and idx > 0:
                r.session.cursor = idx - 1
            elif nav == "next" and idx < r.n - 1:
                r.session.cursor = idx + 1
        elif "goto" in form:
            dest = form["goto"][0]
            if dest.isdigit() and 1 <= int(dest) <= r.n:
                r.session.cursor = int(dest) - 1

    # -- rendering --------------------------------------------------------
    def page(self) -> str:
        r = self.r
        idx = r.session.cursor
        row = r._grouped_row(idx)
        body = [f"<h2>Record Pair {idx + 1} / {r.n}</h2>"]
        if row is None:
            body.append("<p>pair key not found in the pair table</p>")
            cur_label, note = "", ""
        else:
            body.append('<table class="pair"><tr><th>Group</th><th>Left</th><th>Right</th></tr>')
            for g in r.packet.var_group_schema:
                name = g["name"].lower().replace(" ", "_")
                lv = row[f"grp_{name}_lvals"] or []
                rv = row[f"grp_{name}_rvals"] or []
                # the Streamlit page highlights agreement per group
                cls = "match" if list(lv) == list(rv) else "mismatch"
                body.append(
                    f'<tr class="{cls}"><td>{_esc(g["name"])}</td>'
                    f"<td>{_esc(' | '.join(map(str, lv)))}</td>"
                    f"<td>{_esc(' | '.join(map(str, rv)))}</td></tr>"
                )
            body.append("</table>")
            cur_label = row[REV_LABEL_COL]
            note = row[REV_NOTE_COL]

        # label radio (0 = No Label), current selection marked
        body.append('<form method="post" class="labels">')
        opts = ["No Label"] + list(r.packet.label_choices)
        for i, lab in enumerate(opts):
            sel = (
                "checked"
                if (i == 0 and cur_label not in r.packet.label_choices)
                or (i > 0 and cur_label == r.packet.label_choices[i - 1])
                else ""
            )
            body.append(
                f'<label><input type="radio" name="label" value="{i}" {sel}>'
                f" {_esc(lab)}</label> "
            )
        body.append('<button type="submit">Save label</button></form>')

        body.append(
            '<form method="post"><input name="note" size="60" '
            f'value="{_esc(note)}" placeholder="note (replaces current)">'
            '<button type="submit">Save note</button></form>'
        )
        if note:
            body.append(f'<p class="note">Note: {_esc(note)}</p>')

        # goto is its OWN form: inside the nav form, pressing Enter in
        # the text field would implicitly submit the form's FIRST button
        # (prev) and navigate backward instead of jumping
        body.append(
            '<form method="post" class="nav" style="display:inline">'
            '<button name="nav" value="prev">&laquo; Previous</button>'
            '<button name="nav" value="next">Next &raquo;</button></form> '
            '<form method="post" class="nav" style="display:inline">'
            f'<input name="goto" size="6" placeholder="1-{r.n}">'
            '<button type="submit">Go to</button></form>'
        )
        body.append(
            '<pre class="summary">'
            + _esc(render_label_summary(r.pairs, r.packet.label_choices))
            + "</pre>"
        )
        return (
            "<!doctype html><html><head><meta charset='utf-8'>"
            f"<title>rlr review</title><style>{_STYLE}</style></head>"
            "<body>" + "".join(body) + "</body></html>"
        )


class PacketBuilderUI:
    """Browser packet-builder — the reference's data-input page
    (pages/01_data_input.py:84-272) over HTML forms: load each dataset
    by path, pick id columns with LIVE uniqueness validation
    (pages/01:110-126), edit the var-group schema (add/delete groups,
    per-group L/R column multiselects, pages/01:200-215), load the
    comparison file (id-column check + label summary, pages/01:228-270),
    then save the packet JSON and hand off to the review page.

    Deviation from the reference, stated: files are referenced by PATH
    (local/distributed filesystem), not drag-and-drop upload — the
    engine's datasets are parquet/CSV directories a browser upload
    can't carry. Everything else mirrors the page's state machine:
    a dataset counts as loaded only once its ids validate; the schema
    editor and comps loader unlock only when BOTH datasets are loaded.
    """

    def __init__(self, spark, packet_out_path: str = "review_packet.json") -> None:
        from rlr_spark import DEFAULT_LABELS

        self.spark = spark
        self.packet_out_path = packet_out_path
        self.sides: dict[str, dict] = {
            s: {"path": None, "df": None, "ids": [], "msg": "", "loaded": False}
            for s in ("l", "r")
        }
        self.var_groups: list[dict] = [{"name": "", "lvars": [], "rvars": []}]
        self.comps = {"path": None, "msg": "", "loaded": False}
        self.label_choices = list(DEFAULT_LABELS)
        self.saved_msg = ""

    # -- actions ----------------------------------------------------------
    def apply(self, form: dict[str, list[str]]) -> None:
        act = form.get("act", [""])[0]
        if act in ("load_l", "load_r"):
            self._load_side(act[-1], form.get("path", [""])[0].strip())
        elif act in ("ids_l", "ids_r"):
            self._set_ids(act[-1], form.get("ids", []))
        elif act in ("unload_l", "unload_r"):  # pages/01: "Load a different data set"
            s = self.sides[act[-1]]
            s.update(path=None, df=None, ids=[], msg="", loaded=False)
            self.comps.update(path=None, msg="", loaded=False)
        elif act == "vg_add":  # pages/01:23-27
            self.var_groups.append({"name": "", "lvars": [], "rvars": []})
        elif act.startswith("vg_del_"):  # pages/01:29-33
            i = int(act.rsplit("_", 1)[1])
            if 0 <= i < len(self.var_groups):
                del self.var_groups[i]
        elif act.startswith("vg_set_"):
            i = int(act.rsplit("_", 1)[1])
            if 0 <= i < len(self.var_groups):
                self.var_groups[i] = {
                    "name": form.get("name", [""])[0],
                    "lvars": form.get("lvars", []),
                    "rvars": form.get("rvars", []),
                }
        elif act == "labels":
            raw = form.get("labels", [""])[0]
            choices = [x.strip() for x in raw.split(",") if x.strip()]
            if choices:
                self.label_choices = choices
        elif act == "load_comps":
            self._load_comps(form.get("path", [""])[0].strip())
        elif act == "save":
            self._save_packet(form.get("path", [""])[0].strip() or self.packet_out_path)

    def _load_side(self, side: str, path: str) -> None:
        from rlr_spark.sources.packet import _read_any

        s = self.sides[side]
        try:
            df = _read_any(self.spark, path)
            df.limit(1).collect()  # surface read errors NOW, not per render
        except Exception as e:  # noqa: BLE001 — message, not a 500
            s.update(path=None, df=None, ids=[], loaded=False,
                     msg=f"could not read {path}: {e}")
            return
        s.update(path=path, df=df, ids=[], loaded=False,
                 msg="choose which columns uniquely identify rows")

    def _set_ids(self, side: str, ids: list[str]) -> None:
        from rlr_spark.sources.packet import ids_uniquely_identify

        s = self.sides[side]
        if s["df"] is None:
            return
        ids = [c for c in ids if c in s["df"].columns]
        if not ids:
            # pages/01:113-115
            s.update(ids=[], loaded=False,
                     msg="** Please choose which columns uniquely identify each row. **")
        elif ids_uniquely_identify(s["df"], ids):
            # pages/01:117-121
            s.update(ids=ids, loaded=True,
                     msg="Variables chosen are valid identifiers. Loading complete.")
        else:
            # pages/01:122-126
            s.update(ids=ids, loaded=False,
                     msg="** Variables chosen do not uniquely identify rows. **")
        # id columns are what the comps file was validated AGAINST — a
        # later id change must re-validate (or invalidate) the comps
        # load, or "Save" could emit a packet whose pair file lacks the
        # new id columns and the review page would blow up on open
        if self.comps["loaded"]:
            self._load_comps(self.comps["path"])

    def _load_comps(self, path: str) -> None:
        from rlr_spark.sources.packet import _read_any

        if not (self.sides["l"]["loaded"] and self.sides["r"]["loaded"]):
            self.comps["msg"] = "load both data sets first"
            return
        try:
            df = _read_any(self.spark, path)
            cols = df.columns
        except Exception as e:  # noqa: BLE001
            self.comps.update(path=None, loaded=False, msg=f"could not read {path}: {e}")
            return
        need = list(self.sides["l"]["ids"]) + list(self.sides["r"]["ids"])
        missing = [c for c in need if c not in cols]
        if missing:
            self.comps.update(path=None, loaded=False,
                              msg=f"** Pair file missing id columns: {missing} **")
        else:
            self.comps.update(path=path, loaded=True,
                              msg="Successfully loaded a file for review.")

    def _save_packet(self, out_path: str) -> None:
        from rlr_spark.sources.packet import ReviewPacket

        if not (self.sides["l"]["loaded"] and self.sides["r"]["loaded"]
                and self.comps["loaded"]):
            self.saved_msg = "** load both data sets and a comparison file first **"
            return
        groups = [
            g for g in self.var_groups if g["name"] and (g["lvars"] or g["rvars"])
        ]
        packet = ReviewPacket(
            file_L=self.sides["l"]["path"],
            file_L_ids=list(self.sides["l"]["ids"]),
            file_R=self.sides["r"]["path"],
            file_R_ids=list(self.sides["r"]["ids"]),
            file_comps=self.comps["path"],
            var_group_schema=groups,
            label_choices=list(self.label_choices),
        )
        packet.save(out_path)
        self.packet_out_path = out_path
        self.saved_msg = f"packet saved to {out_path}"

    # -- rendering --------------------------------------------------------
    def _side_html(self, side: str) -> list[str]:
        s = self.sides[side]
        title = {"l": "Left", "r": "Right"}[side]
        out = [f"<h3>{title} Data Set</h3>"]
        if s["df"] is None:
            out.append(
                f'<form method="post"><input type="hidden" name="act" value="load_{side}">'
                '<input name="path" size="60" placeholder="path (.parquet dir / .csv / .dta)">'
                "<button>Load</button></form>"
            )
            if s["msg"]:
                out.append(f'<p class="note">{_esc(s["msg"])}</p>')
            return out
        out.append(f"<p>{_esc(s['path'])}</p>")
        # head() preview, like st.dataframe(df.head())
        head = s["df"].limit(5).collect()
        out.append('<table class="pair"><tr>' + "".join(
            f"<th>{_esc(c)}</th>" for c in s["df"].columns) + "</tr>")
        for r in head:
            out.append("<tr>" + "".join(f"<td>{_esc(v)}</td>" for v in r) + "</tr>")
        out.append("</table>")
        out.append(
            f'<form method="post"><input type="hidden" name="act" value="ids_{side}">'
            f'<select name="ids" multiple size="{min(6, len(s["df"].columns))}">'
            + "".join(
                f'<option value="{_esc(c)}" {"selected" if c in s["ids"] else ""}>{_esc(c)}</option>'
                for c in s["df"].columns
            )
            + "</select> <button>Set id columns</button></form>"
        )
        cls = "ok" if s["loaded"] else "err"
        out.append(f'<p class="{cls}">{_esc(s["msg"])}</p>')
        out.append(
            f'<form method="post"><input type="hidden" name="act" value="unload_{side}">'
            "<button>Load a different data set</button></form>"
        )
        return out

    def page(self) -> str:
        body = ["<h2>Build Review Packet</h2>"]
        body += self._side_html("l")
        body += self._side_html("r")

        body.append("<h3>Variable Comparison Groups</h3>")
        if self.sides["l"]["loaded"] and self.sides["r"]["loaded"]:
            l_cols = self.sides["l"]["df"].columns
            r_cols = self.sides["r"]["df"].columns
            for i, g in enumerate(self.var_groups):
                body.append(
                    f'<form method="post" class="vg">'
                    f'<input type="hidden" name="act" value="vg_set_{i}">'
                    f'<input name="name" value="{_esc(g["name"])}" placeholder="group name"> '
                    f'L: <select name="lvars" multiple size="3">'
                    + "".join(
                        f'<option {"selected" if c in g["lvars"] else ""}>{_esc(c)}</option>'
                        for c in l_cols
                    )
                    + '</select> R: <select name="rvars" multiple size="3">'
                    + "".join(
                        f'<option {"selected" if c in g["rvars"] else ""}>{_esc(c)}</option>'
                        for c in r_cols
                    )
                    + "</select> <button>Update</button></form>"
                    f'<form method="post" style="display:inline">'
                    f'<input type="hidden" name="act" value="vg_del_{i}">'
                    "<button>Delete Group</button></form>"
                )
            body.append(
                '<form method="post"><input type="hidden" name="act" value="vg_add">'
                "<button>Add Group</button></form>"
            )
        else:
            # pages/01:222-224
            body.append("<p>User must load two data sets with identifying "
                        "variables before defining the comparison schema.</p>")

        body.append("<h3>Comparison File</h3>")
        if self.comps["loaded"]:
            body.append(f"<p>Comparison File Loaded: {_esc(self.comps['path'])}</p>")
        else:
            body.append(
                '<form method="post"><input type="hidden" name="act" value="load_comps">'
                '<input name="path" size="60" placeholder="pairs file path">'
                "<button>Load</button></form>"
            )
        if self.comps["msg"]:
            body.append(f'<p class="note">{_esc(self.comps["msg"])}</p>')

        body.append(
            '<h3>Labels</h3><form method="post">'
            '<input type="hidden" name="act" value="labels">'
            f'<input name="labels" size="60" value="{_esc(", ".join(self.label_choices))}">'
            "<button>Set label choices</button></form>"
        )
        body.append(
            '<h3>Save</h3><form method="post">'
            '<input type="hidden" name="act" value="save">'
            f'<input name="path" size="60" value="{_esc(self.packet_out_path)}">'
            "<button>Save packet</button></form>"
        )
        if self.saved_msg:
            body.append(f'<p class="note">{_esc(self.saved_msg)}</p>')
            if "saved to" in self.saved_msg:
                body.append('<p><a href="/">Start reviewing</a></p>')
        style = _STYLE + ".ok { color: #1b5e20; } .err { color: #b71c1c; }"
        return (
            "<!doctype html><html><head><meta charset='utf-8'>"
            f"<title>rlr packet builder</title><style>{style}</style></head>"
            "<body>" + "".join(body) + "</body></html>"
        )


def make_app_server(
    spark,
    packet_path: str | None = None,
    host: str = "127.0.0.1",
    port: int = 0,
    packet_out_path: str = "review_packet.json",
    **reviewer_kwargs,
) -> HTTPServer:
    """The full browser app: ``/build`` is the packet builder,
    ``/`` the review page. With no packet yet, ``/`` redirects to
    ``/build``; the builder's "Save packet" writes the JSON and the
    review page loads it lazily on first visit — the reference's
    two-page Streamlit flow (01_data_input -> 02_Linkage_Review) over
    one stdlib server.

    Given ``packet_path``, the reviewer is built here, so a bad packet
    raises before the server binds. The server's ``web`` attribute holds
    the :class:`WebReviewer` once a packet is loaded."""
    from rlr_spark.sources.packet import ReviewPacket, ReviewSession

    builder = PacketBuilderUI(spark, packet_out_path=packet_out_path)

    def _load(p: str) -> WebReviewer:
        session = ReviewSession(spark, ReviewPacket.load(p))
        return WebReviewer(CLReviewer(session, packet_path=p, **reviewer_kwargs))

    web = _load(packet_path) if packet_path else None

    def _reviewer() -> WebReviewer | None:
        if server.web is None and "saved to" in builder.saved_msg:
            server.web = _load(builder.packet_out_path)
        return server.web

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _html(self, content: str, status: int = 200) -> None:
            data = content.encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _redirect(self, to: str) -> None:
            # POST-redirect-GET so refresh never re-submits
            self.send_response(303)
            self.send_header("Location", to)
            self.end_headers()

        def do_GET(self):
            if self.path.startswith("/build"):
                self._html(builder.page())
                return
            try:
                web = _reviewer()
            except Exception as e:  # noqa: BLE001 — render, don't drop
                # a bad packet (e.g. hand-edited ids) must surface as a
                # readable page, not a reset connection
                self._html(
                    "<!doctype html><body><h2>packet failed to load</h2>"
                    f"<pre>{_esc(e)}</pre>"
                    '<p><a href="/build">back to the builder</a></p></body>',
                    status=500,
                )
                return
            if web is None:
                self._redirect("/build")
            else:
                self._html(web.page())

        def do_POST(self):
            length = int(self.headers.get("Content-Length", 0))
            # keep_blank_values: an EMPTY note box must still arrive
            # ('note': ['']) so clearing a note works — parse_qs
            # silently drops blank values by default
            form = parse_qs(
                self.rfile.read(length).decode("utf-8"), keep_blank_values=True
            )
            if self.path.startswith("/build"):
                builder.apply(form)
                self._redirect("/build")
                return
            try:
                web = _reviewer()
            except Exception:  # noqa: BLE001 — GET / renders the error
                self._redirect("/")
                return
            if web is None:
                self._redirect("/build")
            else:
                web.apply(form)
                self._redirect("/")

    server = HTTPServer((host, port), Handler)
    server.web = web
    return server


def serve_packet(packet_path: str, host: str = "127.0.0.1", port: int = 8501, **kwargs):
    """``python -m rlr_spark.webui <packet.json> [port]`` — load the
    packet, serve the review UI until interrupted. Cursor and labels
    persist exactly as in the CLI loop (autosave + packet rewrite)."""
    from rlr_spark.session import get_spark

    spark = kwargs.pop("spark", None) or get_spark(app_name="rlr_webui")
    server = make_app_server(spark, packet_path=packet_path, host=host, port=port, **kwargs)
    reviewer = server.web.r
    print(f"review UI at http://{host}:{server.server_address[1]}/")
    try:
        server.serve_forever()
    finally:
        reviewer.session.save_packet(packet_path)
    return reviewer


if __name__ == "__main__":  # pragma: no cover
    import sys

    if len(sys.argv) > 1:
        serve_packet(sys.argv[1], port=int(sys.argv[2]) if len(sys.argv) > 2 else 8501)
    else:
        # no packet yet: start at the builder page, like opening the
        # reference app on 01_data_input
        from rlr_spark.session import get_spark

        server = make_app_server(get_spark(app_name="rlr_webui"), port=8501)
        print(f"packet builder at http://127.0.0.1:{server.server_address[1]}/build")
        server.serve_forever()
