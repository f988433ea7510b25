/* 001 */ public Object generate(Object[] references) {
/* 002 */   return new GeneratedIteratorForCodegenStage1(references);
/* 003 */ }
/* 004 */
/* 005 */ // codegenStageId=1
/* 006 */ final class GeneratedIteratorForCodegenStage1 extends org.apache.spark.sql.execution.BufferedRowIterator {
/* 007 */   private Object[] references;
/* 008 */   private scala.collection.Iterator[] inputs;
/* 009 */   private int columnartorow_batchIdx_0;
/* 010 */   private long filter_param_0;
/* 011 */   private org.apache.spark.sql.vectorized.ColumnarBatch[] columnartorow_mutableStateArray_1 = new org.apache.spark.sql.vectorized.ColumnarBatch[1];
/* 012 */   private org.apache.spark.sql.execution.vectorized.OnHeapColumnVector[] columnartorow_mutableStateArray_2 = new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector[4];
/* 013 */   private scala.collection.Iterator[] columnartorow_mutableStateArray_0 = new scala.collection.Iterator[1];
/* 014 */   private org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter[] columnartorow_mutableStateArray_3 = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter[6];
/* 015 */
/* 016 */   public GeneratedIteratorForCodegenStage1(Object[] references) {
/* 017 */     this.references = references;
/* 018 */   }
/* 019 */
/* 020 */   public void init(int index, scala.collection.Iterator[] inputs) {
/* 021 */     partitionIndex = index;
/* 022 */     this.inputs = inputs;
/* 023 */     columnartorow_mutableStateArray_0[0] = inputs[0];
/* 024 */
/* 025 */     columnartorow_mutableStateArray_3[0] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(4, 64);
/* 026 */     filter_param_0 = ((Long) references[3] /* param */).longValue();
/* 027 */     columnartorow_mutableStateArray_3[1] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(4, 64);
/* 028 */     columnartorow_mutableStateArray_3[2] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(3, 96);
/* 029 */     columnartorow_mutableStateArray_3[3] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(columnartorow_mutableStateArray_3[2], 5);
/* 030 */     columnartorow_mutableStateArray_3[4] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(columnartorow_mutableStateArray_3[2], 5);
/* 031 */     columnartorow_mutableStateArray_3[5] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(columnartorow_mutableStateArray_3[2], 5);
/* 032 */
/* 033 */   }
/* 034 */
/* 035 */   protected void processNext() throws java.io.IOException {
/* 036 */     if (columnartorow_mutableStateArray_1[0] == null) {
/* 037 */       columnartorow_nextBatch_0();
/* 038 */     }
/* 039 */     while ( columnartorow_mutableStateArray_1[0] != null) {
/* 040 */       int columnartorow_numRows_0 = columnartorow_mutableStateArray_1[0].numRows();
/* 041 */       int columnartorow_localEnd_0 = columnartorow_numRows_0 - columnartorow_batchIdx_0;
/* 042 */       for (int columnartorow_localIdx_0 = 0; columnartorow_localIdx_0 < columnartorow_localEnd_0; columnartorow_localIdx_0++) {
/* 043 */         int columnartorow_rowIdx_0 = columnartorow_batchIdx_0 + columnartorow_localIdx_0;
/* 044 */         do {
/* 045 */           boolean columnartorow_isNull_0 = columnartorow_mutableStateArray_2[0].isNullAt(columnartorow_rowIdx_0);
/* 046 */           long columnartorow_value_0 = columnartorow_isNull_0 ? -1L : (columnartorow_mutableStateArray_2[0].getLong(columnartorow_rowIdx_0));
/* 047 */
/* 048 */           boolean filter_value_0 = (columnartorow_isNull_0 && false) ||
/* 049 */           (!columnartorow_isNull_0 && !false && columnartorow_value_0 == filter_param_0);
/* 050 */           if (!filter_value_0) continue;
/* 051 */
/* 052 */           boolean columnartorow_isNull_3 = columnartorow_mutableStateArray_2[3].isNullAt(columnartorow_rowIdx_0);
/* 053 */           UTF8String columnartorow_value_3 = columnartorow_isNull_3 ? null : (columnartorow_mutableStateArray_2[3].getUTF8String(columnartorow_rowIdx_0));
/* 054 */
/* 055 */           boolean filter_value_5 = !columnartorow_isNull_3;
/* 056 */           if (!filter_value_5) continue;
/* 057 */
/* 058 */           boolean columnartorow_isNull_2 = columnartorow_mutableStateArray_2[2].isNullAt(columnartorow_rowIdx_0);
/* 059 */           double columnartorow_value_2 = columnartorow_isNull_2 ? -1.0 : (columnartorow_mutableStateArray_2[2].getDouble(columnartorow_rowIdx_0));
/* 060 */
/* 061 */           boolean filter_value_8 = !columnartorow_isNull_2;
/* 062 */           if (!filter_value_8) continue;
/* 063 */
/* 064 */           boolean columnartorow_isNull_1 = columnartorow_mutableStateArray_2[1].isNullAt(columnartorow_rowIdx_0);
/* 065 */           UTF8String columnartorow_value_1 = columnartorow_isNull_1 ? null : (columnartorow_mutableStateArray_2[1].getUTF8String(columnartorow_rowIdx_0));
/* 066 */
/* 067 */           boolean filter_value_11 = !columnartorow_isNull_1;
/* 068 */           if (!filter_value_11) continue;
/* 069 */
/* 070 */           ((org.apache.spark.sql.execution.metric.SQLMetric) references[2] /* numOutputRows */).add(1);
/* 071 */
/* 072 */           // common sub-expressions
/* 073 */
/* 074 */           Object[] project_values_0 = new Object[5];
/* 075 */
/* 076 */           if (false) {
/* 077 */             project_values_0[0] = null;
/* 078 */           } else {
/* 079 */             project_values_0[0] = ((byte)2);
/* 080 */           }
/* 081 */
/* 082 */           if (false) {
/* 083 */             project_values_0[1] = null;
/* 084 */           } else {
/* 085 */             project_values_0[1] = columnartorow_value_1;
/* 086 */           }
/* 087 */
/* 088 */           if (true) {
/* 089 */             project_values_0[2] = null;
/* 090 */           } else {
/* 091 */             project_values_0[2] = ((UTF8String)null);
/* 092 */           }
/* 093 */
/* 094 */           if (true) {
/* 095 */             project_values_0[3] = null;
/* 096 */           } else {
/* 097 */             project_values_0[3] = ((UTF8String)null);
/* 098 */           }
/* 099 */
/* 100 */           if (true) {
/* 101 */             project_values_0[4] = null;
/* 102 */           } else {
/* 103 */             project_values_0[4] = -1.0;
/* 104 */           }
/* 105 */
/* 106 */           final InternalRow project_value_0 = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(project_values_0);
/* 107 */           project_values_0 = null;
/* 108 */           Object[] project_values_1 = new Object[5];
/* 109 */
/* 110 */           if (false) {
/* 111 */             project_values_1[0] = null;
/* 112 */           } else {
/* 113 */             project_values_1[0] = ((byte)2);
/* 114 */           }
/* 115 */
/* 116 */           boolean project_isNull_8 = false;
/* 117 */           UTF8String project_value_8 = null;
/* 118 */           if (!false) {
/* 119 */             UTF8String project_tmp_0;
/* 120 */             project_tmp_0 = UTF8String.fromString(String.valueOf(columnartorow_value_2));
/* 121 */             project_value_8 = project_tmp_0;
/* 122 */           }
/* 123 */           if (project_isNull_8) {
/* 124 */             project_values_1[1] = null;
/* 125 */           } else {
/* 126 */             project_values_1[1] = project_value_8;
/* 127 */           }
/* 128 */
/* 129 */           if (false) {
/* 130 */             project_values_1[2] = null;
/* 131 */           } else {
/* 132 */             project_values_1[2] = ((UTF8String) references[4] /* literal */);
/* 133 */           }
/* 134 */
/* 135 */           if (true) {
/* 136 */             project_values_1[3] = null;
/* 137 */           } else {
/* 138 */             project_values_1[3] = ((UTF8String)null);
/* 139 */           }
/* 140 */
/* 141 */           if (false) {
/* 142 */             project_values_1[4] = null;
/* 143 */           } else {
/* 144 */             project_values_1[4] = columnartorow_value_2;
/* 145 */           }
/* 146 */
/* 147 */           final InternalRow project_value_6 = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(project_values_1);
/* 148 */           project_values_1 = null;
/* 149 */           Object[] project_values_2 = new Object[5];
/* 150 */
/* 151 */           if (false) {
/* 152 */             project_values_2[0] = null;
/* 153 */           } else {
/* 154 */             project_values_2[0] = ((byte)2);
/* 155 */           }
/* 156 */
/* 157 */           if (false) {
/* 158 */             project_values_2[1] = null;
/* 159 */           } else {
/* 160 */             project_values_2[1] = columnartorow_value_3;
/* 161 */           }
/* 162 */
/* 163 */           if (true) {
/* 164 */             project_values_2[2] = null;
/* 165 */           } else {
/* 166 */             project_values_2[2] = ((UTF8String)null);
/* 167 */           }
/* 168 */
/* 169 */           if (true) {
/* 170 */             project_values_2[3] = null;
/* 171 */           } else {
/* 172 */             project_values_2[3] = ((UTF8String)null);
/* 173 */           }
/* 174 */
/* 175 */           if (true) {
/* 176 */             project_values_2[4] = null;
/* 177 */           } else {
/* 178 */             project_values_2[4] = -1.0;
/* 179 */           }
/* 180 */
/* 181 */           final InternalRow project_value_13 = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(project_values_2);
/* 182 */           project_values_2 = null;
/* 183 */           columnartorow_mutableStateArray_3[2].reset();
/* 184 */
/* 185 */           final InternalRow project_tmpInput_0 = project_value_0;
/* 186 */           if (project_tmpInput_0 instanceof UnsafeRow) {
/* 187 */             columnartorow_mutableStateArray_3[2].write(0, (UnsafeRow) project_tmpInput_0);
/* 188 */           } else {
/* 189 */             // Remember the current cursor so that we can calculate how many bytes are
/* 190 */             // written later.
/* 191 */             final int project_previousCursor_0 = columnartorow_mutableStateArray_3[2].cursor();
/* 192 */
/* 193 */             columnartorow_mutableStateArray_3[3].resetRowWriter();
/* 194 */
/* 195 */             columnartorow_mutableStateArray_3[3].write(0, (project_tmpInput_0.getByte(0)));
/* 196 */
/* 197 */             if ((project_tmpInput_0.isNullAt(1))) {
/* 198 */               columnartorow_mutableStateArray_3[3].setNullAt(1);
/* 199 */             } else {
/* 200 */               columnartorow_mutableStateArray_3[3].write(1, (project_tmpInput_0.getUTF8String(1)));
/* 201 */             }
/* 202 */
/* 203 */             if ((project_tmpInput_0.isNullAt(2))) {
/* 204 */               columnartorow_mutableStateArray_3[3].setNullAt(2);
/* 205 */             } else {
/* 206 */               columnartorow_mutableStateArray_3[3].write(2, (project_tmpInput_0.getUTF8String(2)));
/* 207 */             }
/* 208 */
/* 209 */             if ((project_tmpInput_0.isNullAt(3))) {
/* 210 */               columnartorow_mutableStateArray_3[3].setNullAt(3);
/* 211 */             } else {
/* 212 */               columnartorow_mutableStateArray_3[3].write(3, (project_tmpInput_0.getUTF8String(3)));
/* 213 */             }
/* 214 */
/* 215 */             if ((project_tmpInput_0.isNullAt(4))) {
/* 216 */               columnartorow_mutableStateArray_3[3].setNullAt(4);
/* 217 */             } else {
/* 218 */               columnartorow_mutableStateArray_3[3].write(4, (project_tmpInput_0.getDouble(4)));
/* 219 */             }
/* 220 */
/* 221 */             columnartorow_mutableStateArray_3[2].setOffsetAndSizeFromPreviousCursor(0, project_previousCursor_0);
/* 222 */           }
/* 223 */
/* 224 */           final InternalRow project_tmpInput_1 = project_value_6;
/* 225 */           if (project_tmpInput_1 instanceof UnsafeRow) {
/* 226 */             columnartorow_mutableStateArray_3[2].write(1, (UnsafeRow) project_tmpInput_1);
/* 227 */           } else {
/* 228 */             // Remember the current cursor so that we can calculate how many bytes are
/* 229 */             // written later.
/* 230 */             final int project_previousCursor_1 = columnartorow_mutableStateArray_3[2].cursor();
/* 231 */
/* 232 */             columnartorow_mutableStateArray_3[4].resetRowWriter();
/* 233 */
/* 234 */             columnartorow_mutableStateArray_3[4].write(0, (project_tmpInput_1.getByte(0)));
/* 235 */
/* 236 */             if ((project_tmpInput_1.isNullAt(1))) {
/* 237 */               columnartorow_mutableStateArray_3[4].setNullAt(1);
/* 238 */             } else {
/* 239 */               columnartorow_mutableStateArray_3[4].write(1, (project_tmpInput_1.getUTF8String(1)));
/* 240 */             }
/* 241 */
/* 242 */             columnartorow_mutableStateArray_3[4].write(2, (project_tmpInput_1.getUTF8String(2)));
/* 243 */
/* 244 */             if ((project_tmpInput_1.isNullAt(3))) {
/* 245 */               columnartorow_mutableStateArray_3[4].setNullAt(3);
/* 246 */             } else {
/* 247 */               columnartorow_mutableStateArray_3[4].write(3, (project_tmpInput_1.getUTF8String(3)));
/* 248 */             }
/* 249 */
/* 250 */             if ((project_tmpInput_1.isNullAt(4))) {
/* 251 */               columnartorow_mutableStateArray_3[4].setNullAt(4);
/* 252 */             } else {
/* 253 */               columnartorow_mutableStateArray_3[4].write(4, (project_tmpInput_1.getDouble(4)));
/* 254 */             }
/* 255 */
/* 256 */             columnartorow_mutableStateArray_3[2].setOffsetAndSizeFromPreviousCursor(1, project_previousCursor_1);
/* 257 */           }
/* 258 */
/* 259 */           final InternalRow project_tmpInput_2 = project_value_13;
/* 260 */           if (project_tmpInput_2 instanceof UnsafeRow) {
/* 261 */             columnartorow_mutableStateArray_3[2].write(2, (UnsafeRow) project_tmpInput_2);
/* 262 */           } else {
/* 263 */             // Remember the current cursor so that we can calculate how many bytes are
/* 264 */             // written later.
/* 265 */             final int project_previousCursor_2 = columnartorow_mutableStateArray_3[2].cursor();
/* 266 */
/* 267 */             columnartorow_mutableStateArray_3[5].resetRowWriter();
/* 268 */
/* 269 */             columnartorow_mutableStateArray_3[5].write(0, (project_tmpInput_2.getByte(0)));
/* 270 */
/* 271 */             if ((project_tmpInput_2.isNullAt(1))) {
/* 272 */               columnartorow_mutableStateArray_3[5].setNullAt(1);
/* 273 */             } else {
/* 274 */               columnartorow_mutableStateArray_3[5].write(1, (project_tmpInput_2.getUTF8String(1)));
/* 275 */             }
/* 276 */
/* 277 */             if ((project_tmpInput_2.isNullAt(2))) {
/* 278 */               columnartorow_mutableStateArray_3[5].setNullAt(2);
/* 279 */             } else {
/* 280 */               columnartorow_mutableStateArray_3[5].write(2, (project_tmpInput_2.getUTF8String(2)));
/* 281 */             }
/* 282 */
/* 283 */             if ((project_tmpInput_2.isNullAt(3))) {
/* 284 */               columnartorow_mutableStateArray_3[5].setNullAt(3);
/* 285 */             } else {
/* 286 */               columnartorow_mutableStateArray_3[5].write(3, (project_tmpInput_2.getUTF8String(3)));
/* 287 */             }
/* 288 */
/* 289 */             if ((project_tmpInput_2.isNullAt(4))) {
/* 290 */               columnartorow_mutableStateArray_3[5].setNullAt(4);
/* 291 */             } else {
/* 292 */               columnartorow_mutableStateArray_3[5].write(4, (project_tmpInput_2.getDouble(4)));
/* 293 */             }
/* 294 */
/* 295 */             columnartorow_mutableStateArray_3[2].setOffsetAndSizeFromPreviousCursor(2, project_previousCursor_2);
/* 296 */           }
/* 297 */           append((columnartorow_mutableStateArray_3[2].getRow()));
/* 298 */
/* 299 */         } while (false);
/* 300 */         if (shouldStop()) { columnartorow_batchIdx_0 = columnartorow_rowIdx_0 + 1; return; }
/* 301 */       }
/* 302 */       columnartorow_batchIdx_0 = columnartorow_numRows_0;
/* 303 */       columnartorow_mutableStateArray_1[0].closeIfFreeable();
/* 304 */       columnartorow_mutableStateArray_1[0] = null;
/* 305 */       columnartorow_nextBatch_0();
/* 306 */     }
/* 307 */     // clean up resources
/* 308 */     if (columnartorow_mutableStateArray_1[0] != null) {
/* 309 */       columnartorow_mutableStateArray_1[0].close();
/* 310 */     }
/* 311 */   }
/* 312 */
/* 313 */   private void columnartorow_nextBatch_0() throws java.io.IOException {
/* 314 */     if (columnartorow_mutableStateArray_0[0].hasNext()) {
/* 315 */       columnartorow_mutableStateArray_1[0] = (org.apache.spark.sql.vectorized.ColumnarBatch)columnartorow_mutableStateArray_0[0].next();
/* 316 */       ((org.apache.spark.sql.execution.metric.SQLMetric) references[1] /* numInputBatches */).add(1);
/* 317 */       ((org.apache.spark.sql.execution.metric.SQLMetric) references[0] /* numOutputRows */).add(columnartorow_mutableStateArray_1[0].numRows());
/* 318 */       columnartorow_batchIdx_0 = 0;
/* 319 */       columnartorow_mutableStateArray_2[0] = (org.apache.spark.sql.execution.vectorized.OnHeapColumnVector) columnartorow_mutableStateArray_1[0].column(0);
/* 320 */       columnartorow_mutableStateArray_2[1] = (org.apache.spark.sql.execution.vectorized.OnHeapColumnVector) columnartorow_mutableStateArray_1[0].column(1);
/* 321 */       columnartorow_mutableStateArray_2[2] = (org.apache.spark.sql.execution.vectorized.OnHeapColumnVector) columnartorow_mutableStateArray_1[0].column(2);
/* 322 */       columnartorow_mutableStateArray_2[3] = (org.apache.spark.sql.execution.vectorized.OnHeapColumnVector) columnartorow_mutableStateArray_1[0].column(3);
/* 323 */
/* 324 */     }
/* 325 */   }
/* 326 */ }
