/* Native tree builder for kernels/dom.py.
 *
 * build(html, xml_mode) returns the same Node tree as dom._parse_html_fast
 * (the Python reference, kept as the fallback): the same tokens, text
 * gaps, raw-text spans, implicit closes, i0/i1/parent slots and shared
 * doc_nodes list.  Nodes are allocated with the Node type's tp_alloc and
 * their __slots__ are filled directly.
 *
 * The token grammar is dom._TOKEN_RE, matched at each '<':
 *   start tag  <[a-zA-Z][a-zA-Z0-9:-]* then a run of non->"' characters
 *              and complete quoted strings, then '>' (an unclosed quote
 *              makes no token)
 *   end tag    </[a-zA-Z][a-zA-Z0-9:-]* then anything up to the next '>'
 *   comment    <!-- ... up to -->, or to the end ('$': before a final
 *              newline); CDATA likewise with ]]>
 *   other      <! or <? up to and including the next '>', or to the end
 * A '<' that starts no token stays in the text gap.
 *
 * Rule tables stay in dom.py.  configure() hands over the cached tag-info
 * dict (raw spelling -> (tag, closers, is_void, is_raw)) with the Python
 * function that fills it on a miss, the scope-stop set, the attr cache
 * with its parse function, and html.unescape.  They are called back only
 * on a cache miss, for attrs that are not blank, and for text with '&'.
 * The configuration is process-wide: one dom module per process.
 */
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <structmember.h>

static PyTypeObject *node_type;
static Py_ssize_t off_tag, off_attrs, off_children, off_doc_nodes, off_i0,
    off_i1, off_parent;
static PyObject *no_attrs, *root_tag, *scope_stop, *tag_info, *tag_info_miss,
    *attr_cache, *parse_attrs, *unescape;

#define SLOT(o, off) (*(PyObject **)((char *)(o) + (off)))

typedef struct {
    PyObject *html;
    int kind;
    const void *data;
    Py_ssize_t n;
    PyObject *doc_nodes; /* owns every node */
    PyObject **stack;    /* open elements, borrowed from doc_nodes */
    Py_ssize_t depth, cap;
} Builder;

#define CH(b, i) PyUnicode_READ((b)->kind, (b)->data, (i))

enum { TOK_NONE, TOK_START, TOK_END, TOK_SKIP };

typedef struct {
    int type;
    Py_ssize_t name0, name1; /* tag name */
    Py_ssize_t attr1;        /* start tag: attrs are [name1, attr1) */
    Py_ssize_t end;          /* one past the token */
} Token;

static int
is_alpha(Py_UCS4 c)
{
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z');
}

static int
is_name(Py_UCS4 c)
{
    return is_alpha(c) || (c >= '0' && c <= '9') || c == ':' || c == '-';
}

static Py_ssize_t
find_char(Builder *b, Py_UCS4 ch, Py_ssize_t from)
{
    if (from >= b->n)
        return -1;
    return PyUnicode_FindChar(b->html, ch, from, b->n, 1);
}

static int
starts_with(Builder *b, Py_ssize_t i, const char *lit)
{
    for (; *lit; i++, lit++)
        if (i >= b->n || CH(b, i) != (Py_UCS4)*lit)
            return 0;
    return 1;
}

/* End of a comment/CDATA body starting at `from`: just past the first
 * "ccd" (c = '-' or ']', d = '>'), else the regex '$' (the end, or before
 * a final newline). */
static Py_ssize_t
body_end(Builder *b, Py_ssize_t from, Py_UCS4 c, Py_UCS4 d)
{
    for (Py_ssize_t i = from;; i++) {
        i = find_char(b, c, i);
        if (i < 0 || i + 2 >= b->n)
            break;
        if (CH(b, i + 1) == c && CH(b, i + 2) == d)
            return i + 3;
    }
    return b->n > from && CH(b, b->n - 1) == '\n' ? b->n - 1 : b->n;
}

static void
match_token(Builder *b, Py_ssize_t p, Token *t)
{
    Py_ssize_t n = b->n, q;
    Py_UCS4 c = p + 1 < n ? CH(b, p + 1) : 0;

    t->type = TOK_NONE;
    if (is_alpha(c)) {
        for (q = p + 2; q < n && is_name(CH(b, q)); q++)
            ;
        t->name0 = p + 1;
        t->name1 = q;
        for (; q < n; q++) {
            c = CH(b, q);
            if (c == '>') {
                t->type = TOK_START;
                t->attr1 = q;
                t->end = q + 1;
                return;
            }
            if (c == '"' || c == '\'') {
                q = find_char(b, c, q + 1);
                if (q < 0)
                    return;
            }
        }
    }
    else if (c == '/') {
        if (p + 2 < n && is_alpha(CH(b, p + 2))) {
            for (q = p + 3; q < n && is_name(CH(b, q)); q++)
                ;
            Py_ssize_t gt = find_char(b, '>', q);
            if (gt >= 0) {
                t->type = TOK_END;
                t->name0 = p + 2;
                t->name1 = q;
                t->end = gt + 1;
            }
        }
    }
    else if (c == '!' || c == '?') {
        t->type = TOK_SKIP;
        if (c == '!' && starts_with(b, p + 2, "--"))
            t->end = body_end(b, p + 4, '-', '>');
        else if (c == '!' && starts_with(b, p + 2, "[CDATA["))
            t->end = body_end(b, p + 9, ']', '>');
        else {
            q = find_char(b, '>', p + 2);
            t->end = q < 0 ? n : q + 1;
        }
    }
}

/* First "</tag" at or after `from` whose name matches ASCII-case-
 * insensitively and is followed by a non-word character or the end. */
static Py_ssize_t
find_raw_close(Builder *b, PyObject *tag, Py_ssize_t from)
{
    Py_ssize_t len = PyUnicode_GET_LENGTH(tag);
    int tkind = PyUnicode_KIND(tag);
    const void *tdata = PyUnicode_DATA(tag);

    for (;;) {
        Py_ssize_t q = find_char(b, '<', from), k;
        if (q < 0)
            return -1;
        if (q + 2 + len <= b->n && CH(b, q + 1) == '/') {
            for (k = 0; k < len; k++) {
                Py_UCS4 c = CH(b, q + 2 + k);
                if (c >= 'A' && c <= 'Z')
                    c += 'a' - 'A';
                if (c != PyUnicode_READ(tkind, tdata, k))
                    break;
            }
            if (k == len) {
                Py_ssize_t e = q + 2 + len;
                if (e == b->n)
                    return q;
                Py_UCS4 c = CH(b, e);
                if (!(Py_UNICODE_ISALNUM(c) || c == '_'))
                    return q;
            }
        }
        from = q + 1;
    }
}

static int
str_eq(PyObject *a, PyObject *b)
{
    Py_ssize_t len = PyUnicode_GET_LENGTH(a);
    return a == b ||
           (len == PyUnicode_GET_LENGTH(b) &&
            PyUnicode_KIND(a) == PyUnicode_KIND(b) &&
            memcmp(PyUnicode_DATA(a), PyUnicode_DATA(b),
                   len * PyUnicode_KIND(a)) == 0);
}

/* Append html[a:z] to `children`, entity-decoded when `decode` is set and
 * the span contains '&'. */
static int
add_text(Builder *b, PyObject *children, Py_ssize_t a, Py_ssize_t z,
         int decode)
{
    PyObject *text = PyUnicode_Substring(b->html, a, z);
    if (text == NULL)
        return -1;
    if (decode && PyUnicode_FindChar(b->html, '&', a, z, 1) >= 0) {
        Py_SETREF(text, PyObject_CallOneArg(unescape, text));
        if (text == NULL)
            return -1;
    }
    int rc = PyList_Append(children, text);
    Py_DECREF(text);
    return rc;
}

/* New reference to the (tag, closers, is_void, is_raw) tuple of the raw
 * tag name html[a:z]. */
static PyObject *
lookup_info(Builder *b, Py_ssize_t a, Py_ssize_t z)
{
    PyObject *raw = PyUnicode_Substring(b->html, a, z);
    if (raw == NULL)
        return NULL;
    PyObject *info = PyDict_GetItemWithError(tag_info, raw);
    if (info != NULL)
        Py_INCREF(info);
    else if (!PyErr_Occurred())
        info = PyObject_CallOneArg(tag_info_miss, raw);
    Py_DECREF(raw);
    if (info != NULL && !(PyTuple_Check(info) && PyTuple_GET_SIZE(info) == 4 &&
                          PyUnicode_CheckExact(PyTuple_GET_ITEM(info, 0)))) {
        Py_DECREF(info);
        PyErr_SetString(PyExc_TypeError, "bad tag info");
        return NULL;
    }
    return info;
}

/* New reference to the attrs dict of html[a:z]. */
static PyObject *
attrs_for(Builder *b, Py_ssize_t a, Py_ssize_t z)
{
    Py_ssize_t i = a;
    while (i < z && Py_UNICODE_ISSPACE(CH(b, i)))
        i++;
    if (i == z)
        return Py_NewRef(no_attrs);
    PyObject *raw = PyUnicode_Substring(b->html, a, z);
    if (raw == NULL)
        return NULL;
    PyObject *attrs = PyDict_GetItemWithError(attr_cache, raw);
    if (attrs != NULL)
        Py_INCREF(attrs);
    else if (!PyErr_Occurred())
        attrs = PyObject_CallOneArg(parse_attrs, raw);
    Py_DECREF(raw);
    return attrs;
}

/* Create a node as the last entry of doc_nodes and a child of `parent`
 * (Py_None for the root).  Returns a borrowed reference. */
static PyObject *
new_node(Builder *b, PyObject *tag, PyObject *attrs, PyObject *parent)
{
    Py_ssize_t i0 = PyList_GET_SIZE(b->doc_nodes);
    PyObject *node = node_type->tp_alloc(node_type, 0);
    if (node == NULL)
        return NULL;
    PyObject *children = PyList_New(0);
    PyObject *v0 = PyLong_FromSsize_t(i0);
    PyObject *v1 = PyLong_FromSsize_t(i0 + 1); /* leaf until its scope closes */
    if (children == NULL || v0 == NULL || v1 == NULL) {
        Py_XDECREF(children);
        Py_XDECREF(v0);
        Py_XDECREF(v1);
        Py_DECREF(node);
        return NULL;
    }
    SLOT(node, off_tag) = Py_NewRef(tag);
    SLOT(node, off_attrs) = Py_NewRef(attrs);
    SLOT(node, off_children) = children;
    SLOT(node, off_doc_nodes) = Py_NewRef(b->doc_nodes);
    SLOT(node, off_i0) = v0;
    SLOT(node, off_i1) = v1;
    SLOT(node, off_parent) = Py_NewRef(parent);
    int rc = PyList_Append(b->doc_nodes, node);
    if (rc == 0 && parent != Py_None)
        rc = PyList_Append(SLOT(parent, off_children), node);
    Py_DECREF(node);
    return rc < 0 ? NULL : node;
}

static int
push(Builder *b, PyObject *node)
{
    if (b->depth == b->cap) {
        Py_ssize_t cap = b->cap ? 2 * b->cap : 64;
        PyObject **stack = PyMem_Realloc(b->stack, cap * sizeof(PyObject *));
        if (stack == NULL) {
            PyErr_NoMemory();
            return -1;
        }
        b->stack = stack;
        b->cap = cap;
    }
    b->stack[b->depth++] = node;
    return 0;
}

/* Close the open elements stack[i:]: their scopes end here. */
static int
close_from(Builder *b, Py_ssize_t i)
{
    PyObject *end = PyLong_FromSsize_t(PyList_GET_SIZE(b->doc_nodes));
    if (end == NULL)
        return -1;
    for (Py_ssize_t j = i; j < b->depth; j++)
        Py_SETREF(SLOT(b->stack[j], off_i1), Py_NewRef(end));
    Py_DECREF(end);
    b->depth = i;
    return 0;
}

static int
start_tag(Builder *b, const Token *t, int xml_mode, Py_ssize_t *pos)
{
    PyObject *info = lookup_info(b, t->name0, t->name1);
    if (info == NULL)
        return -1;
    PyObject *tag = PyTuple_GET_ITEM(info, 0);
    PyObject *closers = PyTuple_GET_ITEM(info, 1);
    int is_void = PyTuple_GET_ITEM(info, 2) == Py_True;
    int is_raw = PyTuple_GET_ITEM(info, 3) == Py_True;
    int rc = -1;

    if (PyAnySet_Check(closers) && PySet_GET_SIZE(closers) > 0) {
        for (Py_ssize_t i = b->depth - 1; i > 0; i--) {
            PyObject *open = SLOT(b->stack[i], off_tag);
            int hit = PySet_Contains(closers, open);
            if (hit > 0) {
                if (close_from(b, i) < 0)
                    goto done;
                break;
            }
            if (hit == 0)
                hit = PySet_Contains(scope_stop, open);
            if (hit < 0)
                goto done;
            if (hit)
                break;
        }
    }
    PyObject *attrs = attrs_for(b, t->name1, t->attr1);
    if (attrs == NULL)
        goto done;
    PyObject *node = new_node(b, tag, attrs, b->stack[b->depth - 1]);
    Py_DECREF(attrs);
    if (node == NULL)
        goto done;
    rc = 0;
    if (xml_mode) {
        /* XML: '<x .../>' self-closes anything; no void list */
        Py_ssize_t i = t->attr1;
        while (i > t->name1 && Py_UNICODE_ISSPACE(CH(b, i - 1)))
            i--;
        if (i > t->name1 && CH(b, i - 1) == '/')
            goto done;
    }
    else if (is_void)
        goto done;
    if (is_raw) {
        /* raw text up to the close tag: no entities, no nested tags */
        PyObject *children = SLOT(node, off_children);
        Py_ssize_t close = find_raw_close(b, tag, *pos);
        if (close < 0) {
            rc = add_text(b, children, *pos, b->n, 0);
            *pos = b->n;
        }
        else {
            if (close > *pos)
                rc = add_text(b, children, *pos, close, 0);
            Py_ssize_t gt = find_char(b, '>', close);
            *pos = gt < 0 ? b->n : gt + 1;
        }
        goto done;
    }
    rc = push(b, node);
done:
    Py_DECREF(info);
    return rc;
}

static int
end_tag(Builder *b, const Token *t, int xml_mode)
{
    PyObject *info = lookup_info(b, t->name0, t->name1);
    if (info == NULL)
        return -1;
    PyObject *tag = PyTuple_GET_ITEM(info, 0);
    int rc = 0;
    if (xml_mode || PyTuple_GET_ITEM(info, 2) != Py_True) {
        for (Py_ssize_t i = b->depth - 1; i > 0; i--) {
            if (str_eq(SLOT(b->stack[i], off_tag), tag)) {
                rc = close_from(b, i);
                break;
            }
        }
    } /* else a void end tag, ignored; no match: a stray end tag */
    Py_DECREF(info);
    return rc;
}

static PyObject *
build(PyObject *self, PyObject *args)
{
    PyObject *html, *root = NULL;
    int xml_mode = 0;
    if (!PyArg_ParseTuple(args, "U|p:build", &html, &xml_mode))
        return NULL;
    if (node_type == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "configure() was not called");
        return NULL;
    }
    Builder b = {html, PyUnicode_KIND(html), PyUnicode_DATA(html),
                 PyUnicode_GET_LENGTH(html), PyList_New(0), NULL, 0, 0};
    if (b.doc_nodes == NULL)
        return NULL;
    PyObject *top = new_node(&b, root_tag, no_attrs, Py_None);
    if (top == NULL || push(&b, top) < 0)
        goto done;

    Py_ssize_t pos = 0, from = 0;
    Token t = {0};
    for (;;) {
        Py_ssize_t p = find_char(&b, '<', from);
        if (p < 0)
            break;
        match_token(&b, p, &t);
        if (t.type == TOK_NONE) {
            from = p + 1;
            continue;
        }
        top = b.stack[b.depth - 1];
        if (p > pos && add_text(&b, SLOT(top, off_children), pos, p, 1) < 0)
            goto done;
        pos = t.end;
        if (t.type == TOK_START) {
            if (start_tag(&b, &t, xml_mode, &pos) < 0)
                goto done;
        }
        else if (t.type == TOK_END && end_tag(&b, &t, xml_mode) < 0)
            goto done;
        from = pos;
    }
    top = b.stack[b.depth - 1];
    if (pos < b.n && add_text(&b, SLOT(top, off_children), pos, b.n, 1) < 0)
        goto done;
    root = b.stack[0];
    if (close_from(&b, 0) < 0) /* every open scope, the root's included */
        root = NULL;
    Py_XINCREF(root);
done:
    PyMem_Free(b.stack);
    Py_DECREF(b.doc_nodes);
    return root;
}

static int
slot_offset(const char *name, Py_ssize_t *off)
{
    PyObject *d = PyObject_GetAttrString((PyObject *)node_type, name);
    if (d == NULL)
        return -1;
    PyMemberDef *m = Py_IS_TYPE(d, &PyMemberDescr_Type)
                         ? ((PyMemberDescrObject *)d)->d_member
                         : NULL;
    int ok = m != NULL && m->type == T_OBJECT_EX && !(m->flags & READONLY);
    if (ok)
        *off = m->offset;
    Py_DECREF(d);
    if (!ok)
        PyErr_Format(PyExc_TypeError, "Node.%s is not an object slot", name);
    return ok ? 0 : -1;
}

static PyObject *
configure(PyObject *self, PyObject *args)
{
    PyTypeObject *type;
    PyObject *noa, *rtag, *stop, *info, *miss, *acache, *pattrs, *unesc;
    if (!PyArg_ParseTuple(args, "O!O!UO!O!OO!OO:configure", &PyType_Type,
                          &type, &PyDict_Type, &noa, &rtag, &PyFrozenSet_Type,
                          &stop, &PyDict_Type, &info, &miss, &PyDict_Type,
                          &acache, &pattrs, &unesc))
        return NULL;
    Py_XSETREF(node_type, (PyTypeObject *)Py_NewRef(type));
    Py_XSETREF(no_attrs, Py_NewRef(noa));
    Py_XSETREF(root_tag, Py_NewRef(rtag));
    Py_XSETREF(scope_stop, Py_NewRef(stop));
    Py_XSETREF(tag_info, Py_NewRef(info));
    Py_XSETREF(tag_info_miss, Py_NewRef(miss));
    Py_XSETREF(attr_cache, Py_NewRef(acache));
    Py_XSETREF(parse_attrs, Py_NewRef(pattrs));
    Py_XSETREF(unescape, Py_NewRef(unesc));
    if (slot_offset("tag", &off_tag) < 0 ||
        slot_offset("attrs", &off_attrs) < 0 ||
        slot_offset("children", &off_children) < 0 ||
        slot_offset("doc_nodes", &off_doc_nodes) < 0 ||
        slot_offset("i0", &off_i0) < 0 || slot_offset("i1", &off_i1) < 0 ||
        slot_offset("parent", &off_parent) < 0) {
        Py_CLEAR(node_type);
        return NULL;
    }
    Py_RETURN_NONE;
}

static PyMethodDef methods[] = {
    {"configure", configure, METH_VARARGS,
     "configure(Node, no_attrs, root_tag, scope_stop, tag_info, tag_info_miss,"
     " attr_cache, parse_attrs, unescape)"},
    {"build", build, METH_VARARGS,
     "build(html, xml_mode=False) -> root Node"},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef module = {
    PyModuleDef_HEAD_INIT, "_dombuild", "Native Node tree builder for dom.py.",
    -1, methods,
};

PyMODINIT_FUNC
PyInit__dombuild(void)
{
    return PyModule_Create(&module);
}
